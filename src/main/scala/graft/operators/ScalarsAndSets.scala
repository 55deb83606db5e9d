package graft.operators

import graft.{QueryDef, Tables}
import graft.QueryDef.{dec, decSum, decSumSql}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scalar-function showcase, conditional aggregates, set operations, null
  * handling, re-aggregation and top-K (SURVEY.md §2.4 A5–A8/A13, §2.6–§2.8).
  */
object ScalarsAndSets {

  val defs: Seq[QueryDef] = Seq(

    // ----- q26: UNION ALL of sliding-period metrics anchored on max(ts)
    // (U1/P6 — app_interactive.py:98–129; anchor replaces now() per SURVEY §7.4).
    QueryDef.sql(
      "q26_period_metrics",
      s"""WITH a AS (SELECT MAX(ts) AS anchor FROM events)
         |SELECT '1d' AS period, COUNT(*) AS events, COUNT(DISTINCT user_id) AS users,
         |  ${decSumSql("value")} AS total_value
         |FROM events, a WHERE ts >= anchor - INTERVAL 1 DAY
         |UNION ALL
         |SELECT '7d', COUNT(*), COUNT(DISTINCT user_id), ${decSumSql("value")}
         |FROM events, a WHERE ts >= anchor - INTERVAL 7 DAY
         |UNION ALL
         |SELECT '30d', COUNT(*), COUNT(DISTINCT user_id), ${decSumSql("value")}
         |FROM events, a WHERE ts >= anchor - INTERVAL 30 DAY
         |ORDER BY period""".stripMargin,
    ) { (spark, dir) =>
      val t = Tables(spark, dir)
      val anchored = t.events.crossJoin(broadcast(t.eventAnchor))
      def span(label: String, days: Int) =
        anchored.filter(col("ts") >= col("anchor_ts") - expr(s"INTERVAL $days DAY"))
          .agg(count(lit(1)).as("events"), countDistinct(col("user_id")).as("users"),
            decSum(col("value")).as("total_value"))
          .select(lit(label).as("period"), col("events"), col("users"), col("total_value"))
      span("1d", 1).unionByName(span("7d", 7)).unionByName(span("30d", 30))
        .orderBy("period")
    },

    // ----- q27: date-bucket scalar functions (SURVEY §2.8 — toYYYYMM,
    // toStartOfMonth/Monday/quarter, dateDiff, ISO day-of-week).
    QueryDef.sql(
      "q27_date_buckets",
      """SELECT DISTINCT CAST(o_orderdate AS DATE) AS order_date,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        |  CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
        |  CAST(date_trunc('quarter', o_orderdate) AS DATE) AS quarter_start,
        |  CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS yyyymm,
        |  CAST(isodow(o_orderdate) AS BIGINT) AS iso_dow,
        |  CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_base
        |FROM orders
        |ORDER BY order_date""".stripMargin,
    ) { (spark, dir) =>
      Tables(spark, dir).orders
        .select(
          to_date(col("o_orderdate")).as("order_date"),
          to_date(date_trunc("month", col("o_orderdate"))).as("month_start"),
          to_date(date_trunc("week", col("o_orderdate"))).as("week_start"),
          to_date(date_trunc("quarter", col("o_orderdate"))).as("quarter_start"),
          (year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).cast("long").as("yyyymm"),
          ((dayofweek(col("o_orderdate")) + 5) % 7 + 1).cast("long").as("iso_dow"),
          datediff(to_date(col("o_orderdate")), lit("1995-01-01").cast("date")).cast("long").as("days_since_base"))
        .distinct()
        .orderBy("order_date")
    },

    // ----- q28: countIf / sumIf conditional aggregates (A5/A6 —
    // app_interactive.py:103–104, 351–356).
    QueryDef.sql(
      "q28_conditional_aggs",
      s"""SELECT event_type,
         |  COUNT(*) AS events,
         |  COUNT(CASE WHEN value > 100 THEN 1 END) AS high_value_events,
         |  CAST(COALESCE(SUM(CASE WHEN value > 100 THEN CAST(value AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS high_value_total,
         |  CAST(COUNT(CASE WHEN value > 100 THEN 1 END) AS DOUBLE) / COUNT(*) AS high_value_share
         |FROM events
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin,
    ) { (spark, dir) =>
      Tables(spark, dir).events
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("events"),
          count(when(col("value") > 100, 1)).as("high_value_events"),
          coalesce(sum(when(col("value") > 100, dec(col("value")))), lit(0)).cast("double").as("high_value_total"),
          (count(when(col("value") > 100, 1)).cast("double") / count(lit(1))).as("high_value_share"))
        .orderBy("event_type")
    },

    // ----- q29: aggregate-of-aggregate over an MV-shaped inner rollup
    // (A8/A13 — app.py:335–345; partial sums stay re-aggregatable DECIMAL so
    // the outer SUM is exact — the persisted-state story of SURVEY §2.4 A8).
    QueryDef.sql(
      "q29_reaggregation",
      """WITH mv AS (
        |  SELECT CAST(ts AS DATE) AS event_date, event_type,
        |    COUNT(*) AS cnt, SUM(CAST(value AS DECIMAL(18,2))) AS val
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type,
        |  CAST(SUM(cnt) AS BIGINT) AS total_events,
        |  COUNT(*) AS days_active,
        |  CAST(SUM(val) AS DOUBLE) AS total_value
        |FROM mv GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    ) { (spark, dir) =>
      val mv = Tables(spark, dir).events
        .groupBy(to_date(col("ts")).as("event_date"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), sum(dec(col("value"))).as("val"))
      mv.groupBy("event_type")
        .agg(
          sum("cnt").cast("long").as("total_events"),
          count(lit(1)).as("days_active"),
          sum("val").cast("double").as("total_value"))
        .orderBy("event_type")
    },

    // ----- q30: null-handling scalars — LEFT JOIN misses → COALESCE/NULLIF/
    // CASE IS NULL (P8 — 05:223, sample_queries.sql:368–369).
    QueryDef.sql(
      "q30_null_handling",
      """WITH ue AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1)
        |SELECT c_custkey,
        |  CAST(COALESCE(n, 0) AS BIGINT) AS events,
        |  CASE WHEN n IS NULL THEN 'inactive' ELSE 'active' END AS status,
        |  CAST(COALESCE(NULLIF(n, 0), -1) AS BIGINT) AS n_or_minus1
        |FROM customer LEFT JOIN ue ON c_custkey = user_id
        |ORDER BY c_custkey
        |LIMIT 200""".stripMargin,
    ) { (spark, dir) =>
      val t = Tables(spark, dir)
      val ue = t.events.groupBy("user_id").agg(count(lit(1)).as("n"))
      t.customer.join(ue, col("c_custkey") === col("user_id"), "left")
        .select(
          col("c_custkey"),
          coalesce(col("n"), lit(0)).cast("long").as("events"),
          when(col("n").isNull, "inactive").otherwise("active").as("status"),
          coalesce(nullif(col("n"), lit(0)), lit(-1)).cast("long").as("n_or_minus1"))
        .orderBy("c_custkey")
        .limit(200)
    },

    // ----- q31: CASE tiers + share-of-total ratios (P9/A14 — app.py:249–254,
    // 303–304). Revenue shares via exact decimal window sums.
    QueryDef.sql(
      "q31_order_tiers",
      """WITH t AS (
        |  SELECT CASE WHEN o_totalprice >= 300000 THEN 'large'
        |              WHEN o_totalprice >= 100000 THEN 'medium'
        |              ELSE 'small' END AS tier,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |  FROM orders)
        |SELECT tier, COUNT(*) AS n_orders,
        |  CAST(SUM(price) AS DOUBLE) AS revenue,
        |  CAST(COUNT(*) AS DOUBLE) * 100.0 / SUM(COUNT(*)) OVER () AS order_share_pct,
        |  CAST(SUM(price) AS DOUBLE) * 100.0 / CAST(SUM(SUM(price)) OVER () AS DOUBLE) AS revenue_share_pct
        |FROM t GROUP BY tier
        |ORDER BY revenue DESC, tier""".stripMargin,
    ) { (spark, dir) =>
      val tiers = Tables(spark, dir).orders
        .select(
          when(col("o_totalprice") >= 300000, "large")
            .when(col("o_totalprice") >= 100000, "medium")
            .otherwise("small").as("tier"),
          dec(col("o_totalprice")).as("price"))
      val w = Window.partitionBy()
      tiers.groupBy("tier")
        .agg(count(lit(1)).as("n_orders"), sum("price").as("rev_dec"))
        .select(
          col("tier"), col("n_orders"),
          col("rev_dec").cast("double").as("revenue"),
          (col("n_orders").cast("double") * lit(100.0) / sum("n_orders").over(w)).as("order_share_pct"),
          (col("rev_dec").cast("double") * lit(100.0) / sum("rev_dec").over(w).cast("double")).as("revenue_share_pct"))
        .orderBy(desc("revenue"), asc("tier"))
    },

    // ----- q33: INTERSECT / EXCEPT — beyond the reference's UNION-ALL-only
    // surface (SURVEY §2.7 notes the gap); engine-completeness coverage.
    QueryDef.sql(
      "q33_set_intersect_except",
      """WITH viewers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
        |purchasers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
        |SELECT 'both' AS cohort, user_id FROM (SELECT user_id FROM viewers INTERSECT SELECT user_id FROM purchasers) x
        |UNION ALL
        |SELECT 'view_only', user_id FROM (SELECT user_id FROM viewers EXCEPT SELECT user_id FROM purchasers) y
        |ORDER BY cohort, user_id""".stripMargin,
    ) { (spark, dir) =>
      val e = Tables(spark, dir).events
      val viewers = e.filter(col("event_type") === "view").select("user_id").distinct()
      val purchasers = e.filter(col("event_type") === "purchase").select("user_id").distinct()
      viewers.intersect(purchasers).select(lit("both").as("cohort"), col("user_id"))
        .unionByName(viewers.except(purchasers).select(lit("view_only").as("cohort"), col("user_id")))
        .orderBy("cohort", "user_id")
    },

    // ----- q34: semi / anti / full-outer joins — not used by the reference
    // (SURVEY §2.3 note) but part of a complete relational surface.
    QueryDef.sql(
      "q34_semi_anti_full",
      """SELECT 'with_orders' AS bucket, COUNT(*) AS customers FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT 'without_orders', COUNT(*) FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT 'full_outer_rows', COUNT(*)
        |FROM (SELECT DISTINCT o_custkey FROM orders) o
        |FULL OUTER JOIN customer ON o_custkey = c_custkey
        |ORDER BY bucket""".stripMargin,
    ) { (spark, dir) =>
      val t = Tables(spark, dir)
      val cust = t.customer
      val ord = t.orders
      val semi = cust.join(ord, col("c_custkey") === col("o_custkey"), "left_semi")
        .agg(count(lit(1)).as("customers"))
        .select(lit("with_orders").as("bucket"), col("customers"))
      val anti = cust.join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("customers"))
        .select(lit("without_orders").as("bucket"), col("customers"))
      val full = ord.select("o_custkey").distinct()
        .join(cust, col("o_custkey") === col("c_custkey"), "full_outer")
        .agg(count(lit(1)).as("customers"))
        .select(lit("full_outer_rows").as("bucket"), col("customers"))
      semi.unionByName(anti).unionByName(full).orderBy("bucket")
    },

    // ----- q38: ROLLUP hierarchy totals (beyond the reference — SURVEY §2.4
    // notes it has no grouping sets; engine completeness). Null markers
    // coalesced to 'ALL' so ordering stays deterministic cross-engine.
    QueryDef.sql(
      "q38_rollup_totals",
      """SELECT COALESCE(CAST(year(o_orderdate) AS VARCHAR), 'ALL') AS yr,
        |  COALESCE(o_orderstatus, 'ALL') AS status,
        |  COUNT(*) AS orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY ROLLUP(year(o_orderdate), o_orderstatus)
        |ORDER BY yr, status""".stripMargin,
    ) { (spark, dir) =>
      Tables(spark, dir).orders
        .select(year(col("o_orderdate")).as("y"), col("o_orderstatus"), dec(col("o_totalprice")).as("p"))
        .rollup("y", "o_orderstatus")
        .agg(count(lit(1)).as("orders"), sum("p").cast("double").as("revenue"))
        .select(
          coalesce(col("y").cast("string"), lit("ALL")).as("yr"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          col("orders"), col("revenue"))
        .orderBy("yr", "status")
    },

    // ----- q41: CUBE — all grouping-set combinations (completes the
    // grouping-sets family started by q38's ROLLUP).
    QueryDef.sql(
      "q41_cube_matrix",
      """SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
        |  COALESCE(l_linestatus, 'ALL') AS lstatus,
        |  COUNT(*) AS line_count,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY rflag, lstatus""".stripMargin,
    ) { (spark, dir) =>
      Tables(spark, dir).lineitem
        .select(col("l_returnflag"), col("l_linestatus"), dec(col("l_quantity")).as("q"))
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("line_count"), sum("q").cast("double").as("total_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
          col("line_count"), col("total_qty"))
        .orderBy("rflag", "lstatus")
    },

    // ----- q47: explicit GROUPING SETS — two DISJOINT dimension totals
    // (daily + by-type) in one scan/aggregate pass, the case neither ROLLUP
    // (q38) nor CUBE (q41) expresses. Spark 4's Dataset.groupingSets; the
    // q41 COALESCE-sentinel pattern keeps the ORDER BY engine-neutral.
    QueryDef.sql(
      "q47_grouping_sets",
      """SELECT COALESCE(CAST(ts AS DATE), DATE '1900-01-01') AS event_date,
        |  COALESCE(event_type, 'ALL') AS etype,
        |  COUNT(*) AS events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY GROUPING SETS ((CAST(ts AS DATE)), (event_type))
        |ORDER BY event_date, etype""".stripMargin,
    ) { (spark, dir) =>
      Tables(spark, dir).events
        .select(to_date(col("ts")).as("d"), col("event_type"),
          col("value").cast("decimal(18,2)").as("v"))
        .groupingSets(Seq(Seq(col("d")), Seq(col("event_type"))),
          col("d"), col("event_type"))
        .agg(count(lit(1)).as("events"), sum("v").cast("double").as("total_value"))
        .select(
          coalesce(col("d"), lit(java.sql.Date.valueOf("1900-01-01"))).as("event_date"),
          coalesce(col("event_type"), lit("ALL")).as("etype"),
          col("events"), col("total_value"))
        .orderBy("event_date", "etype")
    },

    // ----- q42: first_value / last_value with explicit frames — per customer,
    // first and latest order value (offset-window family completion).
    QueryDef.sql(
      "q42_first_last_order",
      """SELECT DISTINCT o_custkey,
        |  CAST(first_value(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS first_order_value,
        |  CAST(last_value(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS latest_order_value,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS n_orders
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey""".stripMargin,
    ) { (spark, dir) =>
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables(spark, dir).orders
        .select(col("o_custkey"),
          first(dec(col("o_totalprice"))).over(w).cast("double").as("first_order_value"),
          last(dec(col("o_totalprice"))).over(w).cast("double").as("latest_order_value"),
          count(lit(1)).over(w).cast("long").as("n_orders"))
        .distinct()
        .orderBy("o_custkey")
    },

    // ----- q45: string scalar functions — substring/replace/case/pad/locate
    // (completes the §2.8 string family beyond ILIKE/concat_ws).
    QueryDef.sql(
      "q45_string_functions",
      """SELECT c_custkey,
        |  upper(c_mktsegment) AS seg_upper,
        |  substring(c_name, 1, 8) AS name_prefix,
        |  replace(c_name, 'Customer#', 'C-') AS short_name,
        |  CAST(length(c_name) AS BIGINT) AS name_len,
        |  lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded_key,
        |  CAST(strpos(c_name, '#') AS BIGINT) AS hash_pos
        |FROM customer
        |ORDER BY c_custkey
        |LIMIT 100""".stripMargin,
    ) { (spark, dir) =>
      Tables(spark, dir).customer
        .select(col("c_custkey"),
          upper(col("c_mktsegment")).as("seg_upper"),
          substring(col("c_name"), 1, 8).as("name_prefix"),
          regexp_replace(col("c_name"), "Customer#", "C-").as("short_name"),
          length(col("c_name")).cast("long").as("name_len"),
          lpad(col("c_custkey").cast("string"), 8, "0").as("padded_key"),
          locate("#", col("c_name")).cast("long").as("hash_pos"))
        .orderBy("c_custkey")
        .limit(100)
    },

    // ----- q43: array scalar functions over the embedding column —
    // size/max/min/element access (the array-manipulation family the
    // multimodal and similarity pipelines build on).
    QueryDef.sql(
      "q43_array_functions",
      """SELECT vec_id,
        |  CAST(len(embedding) AS BIGINT) AS dims,
        |  CAST(list_max(embedding) AS DOUBLE) AS max_component,
        |  CAST(list_min(embedding) AS DOUBLE) AS min_component,
        |  CAST(embedding[1] AS DOUBLE) AS first_component,
        |  CAST(embedding[64] AS DOUBLE) AS last_component
        |FROM embeddings
        |ORDER BY vec_id
        |LIMIT 200""".stripMargin,
    ) { (spark, dir) =>
      Tables(spark, dir).embeddings
        .select(col("vec_id"),
          size(col("embedding")).cast("long").as("dims"),
          array_max(col("embedding")).cast("double").as("max_component"),
          array_min(col("embedding")).cast("double").as("min_component"),
          element_at(col("embedding"), 1).cast("double").as("first_component"),
          element_at(col("embedding"), 64).cast("double").as("last_component"))
        .orderBy("vec_id")
        .limit(200)
    },

    // ----- q46: UNION with distinct semantics (only UNION ALL appears in the
    // reference — §2.7; completes the set-operation family with q33).
    QueryDef.sql(
      "q46_union_distinct",
      """SELECT user_id FROM events WHERE event_type = 'purchase'
        |UNION
        |SELECT user_id FROM events WHERE event_type = 'signup'
        |ORDER BY user_id""".stripMargin,
    ) { (spark, dir) =>
      val e = Tables(spark, dir).events
      e.filter(col("event_type") === "purchase").select("user_id")
        .union(e.filter(col("event_type") === "signup").select("user_id"))
        .distinct()
        .orderBy("user_id")
    },

    // ----- q32: global top-K — ORDER BY … LIMIT plans as TakeOrderedAndProject
    // (O1 — app.py:154–155 and everywhere).
    QueryDef.sql(
      "q32_top_events",
      """SELECT event_id, user_id, event_type, value
        |FROM events
        |ORDER BY value DESC, event_id
        |LIMIT 100""".stripMargin,
    ) { (spark, dir) =>
      Tables(spark, dir).events
        .select("event_id", "user_id", "event_type", "value")
        .orderBy(desc("value"), asc("event_id"))
        .limit(100)
    },
  )
}
