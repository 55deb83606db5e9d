package graft.operators

import graft.{QueryDef, Tables}
import graft.QueryDef.{dec, decSum, decSumSql}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational operator coverage (SURVEY.md §2.1–§2.4, §2.6–§2.8).
  *
  * Each entry mirrors a query shape from the reference workload
  * (file:line cites into /root/reference) re-expressed on the driver
  * testdata star schema per FIXTURES.md §C. Every aggregate over a
  * double money/measure column goes through an exact DECIMAL(18,2)
  * cast (the generated doubles are 2-decimal values) so Spark and the
  * DuckDB oracle produce bit-identical sums; final outputs are DOUBLE /
  * BIGINT on both sides.
  */
object RelationalCore {

  /** revenue measure: extendedprice * (1 - discount), exact decimal. */
  private def revenueExpr(df: DataFrame): Column =
    sum(dec(df("l_extendedprice")) * (lit(1) - dec(df("l_discount")))).cast("double")

  private val revenueSql =
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)"

  val defs: Seq[QueryDef] = Seq(

    // ----- q01: pricing summary — scan → multi-agg → sort.
    // Reference shape: SummingMergeTree-style grouped rollup (01-create-tables.sql:87–98)
    // + avg ratios (app.py:151–152); TPC-H Q1 flavor on lineitem.
    QueryDef.sql(
      "q01_pricing_summary",
      s"""SELECT l_returnflag, l_linestatus,
         |  ${decSumSql("l_quantity")} AS sum_qty,
         |  ${decSumSql("l_extendedprice")} AS sum_base_price,
         |  $revenueSql AS sum_disc_price,
         |  COUNT(*) AS count_order,
         |  ${decSumSql("l_quantity")} / COUNT(*) AS avg_qty,
         |  ${decSumSql("l_extendedprice")} / COUNT(*) AS avg_price
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    ) { (spark, dir) =>
      val li = Tables(spark, dir).lineitem
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      li.groupBy("l_returnflag", "l_linestatus")
        .agg(
          decSum(li("l_quantity")).as("sum_qty"),
          decSum(li("l_extendedprice")).as("sum_base_price"),
          revenueExpr(li).as("sum_disc_price"),
          count(lit(1)).as("count_order"),
          (decSum(li("l_quantity")) / count(lit(1))).as("avg_qty"),
          (decSum(li("l_extendedprice")) / count(lit(1))).as("avg_price"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    },

    // ----- q02: dimension rollup via chained broadcast joins
    // (dictGet enrichment J9 — sample_queries.sql:168–171; top-countries app.py:146–156).
    QueryDef.sql(
      "q02_region_rollup",
      s"""SELECT r_name AS region, n_name AS nation_name,
         |  COUNT(*) AS customers,
         |  ${decSumSql("c_acctbal")} AS total_acctbal,
         |  ${decSumSql("c_acctbal")} / COUNT(*) AS avg_acctbal
         |FROM customer
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name, n_name
         |ORDER BY total_acctbal DESC, nation_name""".stripMargin,
    ) { (spark, dir) =>
      val t = Tables(spark, dir)
      t.customer
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name").as("region"), col("n_name").as("nation_name"))
        .agg(
          count(lit(1)).as("customers"),
          decSum(col("c_acctbal")).as("total_acctbal"),
          (decSum(col("c_acctbal")) / count(lit(1))).as("avg_acctbal"),
        )
        .orderBy(desc("total_acctbal"), asc("nation_name"))
    },

    // ----- q03: 3-way fact join + grouped top-K (TPC-H Q3 flavor; J1/J2 + O1).
    QueryDef.sql(
      "q03_shipping_priority",
      s"""SELECT l_orderkey, o_orderdate,
         |  $revenueSql AS revenue
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
         |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
         |GROUP BY l_orderkey, o_orderdate
         |ORDER BY revenue DESC, l_orderkey
         |LIMIT 10""".stripMargin,
    ) { (spark, dir) =>
      val t = Tables(spark, dir)
      val cust = t.customer.filter(col("c_mktsegment") === "BUILDING")
      val ord  = t.orders.filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp"))
      val li   = t.lineitem.filter(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(revenueExpr(li).as("revenue"))
        .orderBy(desc("revenue"), asc("l_orderkey"))
        .limit(10)
    },

    // ----- q04: the minimum slice (SURVEY §7.2) — daily events with exact distinct
    // (/api/daily-events, app.py:90–99; uniq → exact COUNT(DISTINCT) for the oracle).
    QueryDef.sql(
      "q04_daily_events",
      s"""SELECT CAST(ts AS DATE) AS event_date,
         |  COUNT(*) AS events,
         |  COUNT(DISTINCT user_id) AS unique_users,
         |  ${decSumSql("value")} AS total_value
         |FROM events
         |GROUP BY CAST(ts AS DATE)
         |ORDER BY event_date""".stripMargin,
    ) { (spark, dir) =>
      Tables(spark, dir).events
        .groupBy(to_date(col("ts")).as("event_date"))
        .agg(
          count(lit(1)).as("events"),
          countDistinct(col("user_id")).as("unique_users"),
          decSum(col("value")).as("total_value"),
        )
        .orderBy("event_date")
    },

    // ----- q05: share-of-total via empty-frame window (W6 — app_interactive.py:161).
    QueryDef.sql(
      "q05_event_type_share",
      """SELECT event_type, COUNT(*) AS cnt,
        |  CAST(COUNT(*) AS DOUBLE) * 100.0 / SUM(COUNT(*)) OVER () AS pct
        |FROM events
        |GROUP BY event_type
        |ORDER BY cnt DESC, event_type""".stripMargin,
    ) { (spark, dir) =>
      Tables(spark, dir).events
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("pct", col("cnt").cast("double") * lit(100.0) / sum("cnt").over(Window.partitionBy()))
        .orderBy(desc("cnt"), asc("event_type"))
    },

    // ----- q06: monthly revenue (toYYYYMM bucket — app.py:173–201).
    QueryDef.sql(
      "q06_revenue_by_month",
      s"""SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS order_month,
         |  COUNT(*) AS orders,
         |  ${decSumSql("o_totalprice")} AS revenue,
         |  ${decSumSql("o_totalprice")} / COUNT(*) AS avg_order_value
         |FROM orders
         |GROUP BY 1
         |ORDER BY order_month""".stripMargin,
    ) { (spark, dir) =>
      Tables(spark, dir).orders
        .groupBy((year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).cast("long").as("order_month"))
        .agg(
          count(lit(1)).as("orders"),
          decSum(col("o_totalprice")).as("revenue"),
          (decSum(col("o_totalprice")) / count(lit(1))).as("avg_order_value"),
        )
        .orderBy("order_month")
    },

    // ----- q07: CASE-based segmentation (P9 — app.py:249–254 user segments).
    QueryDef.sql(
      "q07_user_segments",
      s"""SELECT CASE WHEN c_acctbal >= 7500 THEN 'platinum'
         |            WHEN c_acctbal >= 5000 THEN 'gold'
         |            WHEN c_acctbal >= 2500 THEN 'silver'
         |            ELSE 'bronze' END AS segment,
         |  COUNT(*) AS customers,
         |  ${decSumSql("c_acctbal")} AS total_acctbal
         |FROM customer
         |GROUP BY 1
         |ORDER BY customers DESC, segment""".stripMargin,
    ) { (spark, dir) =>
      Tables(spark, dir).customer
        .groupBy(
          when(col("c_acctbal") >= 7500, "platinum")
            .when(col("c_acctbal") >= 5000, "gold")
            .when(col("c_acctbal") >= 2500, "silver")
            .otherwise("bronze").as("segment"))
        .agg(
          count(lit(1)).as("customers"),
          decSum(col("c_acctbal")).as("total_acctbal"),
        )
        .orderBy(desc("customers"), asc("segment"))
    },

    // ----- q08: conversion funnel — per-user pivot flags then rates
    // (A7 — sample_queries.sql:388–391; AggregatingMergeTree reads app.py:286–306).
    QueryDef.sql(
      "q08_conversion_funnel",
      """WITH u AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS did_view,
        |    MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS did_click,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS did_purchase
        |  FROM events GROUP BY user_id)
        |SELECT CAST(SUM(did_view) AS BIGINT) AS viewers,
        |  CAST(SUM(did_click) AS BIGINT) AS clickers,
        |  CAST(SUM(did_purchase) AS BIGINT) AS purchasers,
        |  CAST(SUM(did_click) AS DOUBLE) * 100.0 / CAST(NULLIF(SUM(did_view), 0) AS DOUBLE) AS view_to_click_pct,
        |  CAST(SUM(did_purchase) AS DOUBLE) * 100.0 / CAST(NULLIF(SUM(did_click), 0) AS DOUBLE) AS click_to_purchase_pct
        |FROM u""".stripMargin,
    ) { (spark, dir) =>
      val flags = Tables(spark, dir).events
        .groupBy("user_id")
        .agg(
          max(when(col("event_type") === "view", 1).otherwise(0)).as("did_view"),
          max(when(col("event_type") === "click", 1).otherwise(0)).as("did_click"),
          max(when(col("event_type") === "purchase", 1).otherwise(0)).as("did_purchase"),
        )
      flags.agg(
        sum("did_view").cast("long").as("viewers"),
        sum("did_click").cast("long").as("clickers"),
        sum("did_purchase").cast("long").as("purchasers"),
        (sum("did_click").cast("double") * lit(100.0) /
          nullif(sum("did_view"), lit(0)).cast("double")).as("view_to_click_pct"),
        (sum("did_purchase").cast("double") * lit(100.0) /
          nullif(sum("did_click"), lit(0)).cast("double")).as("click_to_purchase_pct"),
      )
    },

    // ----- q09: funnel steps as UNION ALL branches over a shared CTE (U2 —
    // sample_queries.sql:396–412).
    QueryDef.sql(
      "q09_funnel_steps_union",
      """WITH u AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS did_view,
        |    MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS did_click,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS did_purchase
        |  FROM events GROUP BY user_id)
        |SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name, CAST(SUM(did_view) AS BIGINT) AS users FROM u
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'click', CAST(SUM(did_click) AS BIGINT) FROM u
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), 'purchase', CAST(SUM(did_purchase) AS BIGINT) FROM u
        |ORDER BY step""".stripMargin,
    ) { (spark, dir) =>
      val flags = Tables(spark, dir).events
        .groupBy("user_id")
        .agg(
          max(when(col("event_type") === "view", 1).otherwise(0)).as("did_view"),
          max(when(col("event_type") === "click", 1).otherwise(0)).as("did_click"),
          max(when(col("event_type") === "purchase", 1).otherwise(0)).as("did_purchase"),
        )
      // no snap: column pruning narrows each union branch to one flag, and
      // three narrow scans of events cost no more than one materialization
      // (0.31 s against 0.37 s for a cached flags frame, sf0.1, 4 cores)
      def step(n: Int, nm: String, c: String) =
        flags.agg(sum(c).cast("long").as("users"))
          .select(lit(n.toLong).as("step"), lit(nm).as("step_name"), col("users"))
      step(1, "view", "did_view")
        .unionByName(step(2, "click", "did_click"))
        .unionByName(step(3, "purchase", "did_purchase"))
        .orderBy("step")
    },

    // ----- q10: hourly activity matrix (toHour bucket — app.py:328–358, 01:136–152).
    QueryDef.sql(
      "q10_hourly_activity",
      s"""SELECT CAST(hour(ts) AS BIGINT) AS event_hour, event_type,
         |  COUNT(*) AS events,
         |  COUNT(DISTINCT user_id) AS unique_users,
         |  ${decSumSql("value")} AS total_value
         |FROM events
         |GROUP BY 1, 2
         |ORDER BY event_hour, event_type""".stripMargin,
    ) { (spark, dir) =>
      Tables(spark, dir).events
        .groupBy(hour(col("ts")).cast("long").as("event_hour"), col("event_type"))
        .agg(
          count(lit(1)).as("events"),
          countDistinct(col("user_id")).as("unique_users"),
          decSum(col("value")).as("total_value"),
        )
        .orderBy("event_hour", "event_type")
    },

    // ----- q11: case-insensitive pattern search + limit (P7/O4 — app.py:360–413;
    // parameterized filter, never string-interpolated SQL).
    QueryDef.sql(
      "q11_search_ilike",
      """SELECT c_custkey, c_name, c_mktsegment, c_acctbal
        |FROM customer
        |WHERE c_name ILIKE '%00001%'
        |ORDER BY c_custkey
        |LIMIT 50""".stripMargin,
    ) { (spark, dir) =>
      Tables(spark, dir).customer
        .filter(col("c_name").ilike("%00001%"))
        .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
        .orderBy("c_custkey")
        .limit(50)
    },

    // ----- q12: dim LEFT JOIN fact + agg (J3 — the user_analytics view,
    // 01-create-tables.sql:171–187).
    QueryDef.sql(
      "q12_user_activity",
      s"""SELECT c_custkey, c_name,
         |  COUNT(event_id) AS events,
         |  COUNT(DISTINCT event_type) AS distinct_types,
         |  CAST(COALESCE(SUM(CAST(value AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_value
         |FROM customer
         |LEFT JOIN events ON c_custkey = user_id
         |GROUP BY c_custkey, c_name
         |ORDER BY events DESC, c_custkey
         |LIMIT 100""".stripMargin,
    ) { (spark, dir) =>
      val t = Tables(spark, dir)
      t.customer
        .join(t.events, col("c_custkey") === col("user_id"), "left")
        .groupBy("c_custkey", "c_name")
        .agg(
          count(col("event_id")).as("events"),
          countDistinct(col("event_type")).as("distinct_types"),
          coalesce(sum(dec(col("value"))), lit(0)).cast("double").as("total_value"),
        )
        .orderBy(desc("events"), asc("c_custkey"))
        .limit(100)
    },

    // ----- q13: LEFT JOIN onto derived aggregate + IS NOT NULL post-filter
    // (J4 — 05-add-refreshable-mvs.sql.disabled:86–99, CLV base).
    QueryDef.sql(
      "q13_customer_order_stats",
      s"""SELECT c_custkey, c_name, o.order_count, o.total_spent,
         |  o.first_order, o.last_order, o.avg_order
         |FROM customer
         |LEFT JOIN (
         |  SELECT o_custkey, COUNT(*) AS order_count,
         |    ${decSumSql("o_totalprice")} AS total_spent,
         |    MIN(o_orderdate) AS first_order,
         |    MAX(o_orderdate) AS last_order,
         |    ${decSumSql("o_totalprice")} / COUNT(*) AS avg_order
         |  FROM orders GROUP BY o_custkey) o
         |ON c_custkey = o.o_custkey
         |WHERE o.o_custkey IS NOT NULL
         |ORDER BY total_spent DESC, c_custkey
         |LIMIT 100""".stripMargin,
    ) { (spark, dir) =>
      val t = Tables(spark, dir)
      val perCust = t.orders
        .groupBy("o_custkey")
        .agg(
          count(lit(1)).as("order_count"),
          decSum(col("o_totalprice")).as("total_spent"),
          min(col("o_orderdate")).as("first_order"),
          max(col("o_orderdate")).as("last_order"),
          (decSum(col("o_totalprice")) / count(lit(1))).as("avg_order"),
        )
      t.customer
        .join(perCust, col("c_custkey") === col("o_custkey"), "left")
        .filter(col("o_custkey").isNotNull)
        .select("c_custkey", "c_name", "order_count", "total_spent", "first_order", "last_order", "avg_order")
        .orderBy(desc("total_spent"), asc("c_custkey"))
        .limit(100)
    },

    // ----- q20: MV-style product revenue + broadcast dim join + top-K
    // (J1 — /api/top-products app.py:203–239, mv_product_revenue 01:102–115).
    QueryDef.sql(
      "q20_top_products",
      s"""SELECT p_partkey, p_name, p_brand,
         |  COUNT(*) AS line_count,
         |  ${decSumSql("l_quantity")} AS total_qty,
         |  $revenueSql AS revenue
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |GROUP BY p_partkey, p_name, p_brand
         |ORDER BY revenue DESC, p_partkey
         |LIMIT 20""".stripMargin,
    ) { (spark, dir) =>
      val t = Tables(spark, dir)
      val li = t.lineitem
      // aggregate by the long key FIRST, join the dimension after: the
      // pre-agg hashes/shuffles a single bigint key instead of carrying
      // p_name/p_brand strings through every partial-agg row (r5 flagged a
      // +15% drift here; the narrow-key agg is the shape that scales —
      // p_partkey is the part PK, so grouping by it alone is identical to
      // grouping by (key, name, brand))
      li.groupBy(col("l_partkey").as("p_partkey"))
        .agg(
          count(lit(1)).as("line_count"),
          decSum(li("l_quantity")).as("total_qty"),
          revenueExpr(li).as("revenue"),
        )
        .join(broadcast(t.part.select("p_partkey", "p_name", "p_brand")), Seq("p_partkey"))
        .select("p_partkey", "p_name", "p_brand", "line_count", "total_qty", "revenue")
        .orderBy(desc("revenue"), asc("p_partkey"))
        .limit(20)
    },
  )
}
