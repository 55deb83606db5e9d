package graft.operators

import graft.{QueryDef, Tables}
import graft.QueryDef.dec
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window-function family (SURVEY.md §2.5 W1–W6) plus sessionization (ST6a)
  * and ordered collect (A10). Running/moving aggregates stay in exact DECIMAL
  * inside the window frame (DuckDB's segment-tree frame evaluation would
  * otherwise re-associate double addition) and only cast to DOUBLE at output.
  */
object Windows {

  val defs: Seq[QueryDef] = Seq(

    // ----- q21: per-group top-N via row_number (W1 — sample_queries.sql:321–329).
    // The query keeps the user-facing window idiom, but it PLANS through
    // WindowTopKRewrite (r10 verdict item 3: the naive plan sorts whole
    // groups on |brands| = 25 reducers — 4.02× on 3.33× at sf3→sf10 with 31
    // cores idle, the one named scale-killer; the bounded-heap rewrite is
    // oracle-proven at q39 and its curve at q37). The naive window PLAN
    // itself stays covered: q25 runs row_number un-rewritten (different
    // idiom shape), and TopKPerGroupSpec pins the rewrite's equivalence.
    QueryDef.sql(
      "q21_top_parts_per_brand",
      s"""WITH rev AS (
         |  SELECT p_brand, p_partkey, p_name,
         |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
         |    COUNT(*) AS line_count
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  GROUP BY 1, 2, 3)
         |SELECT p_brand, p_partkey, p_name, revenue, line_count, rnk FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY revenue DESC, p_partkey) AS BIGINT) AS rnk
         |  FROM rev) x
         |WHERE rnk <= 5
         |ORDER BY p_brand, rnk""".stripMargin,
    ) { (spark, dir) =>
      val t = Tables(spark, dir)
      val li = t.lineitem
      val rev = li.join(broadcast(t.part), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_partkey", "p_name")
        .agg(
          sum(dec(li("l_extendedprice")) * (lit(1) - dec(li("l_discount")))).cast("double").as("revenue"),
          count(lit(1)).as("line_count"))
      val w = Window.partitionBy("p_brand").orderBy(desc("revenue"), asc("p_partkey"))
      // rnk stays the bare window attribute through the filter (the rewrite's
      // match shape); the long cast happens above the rewritten region
      val windowed = rev.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("p_brand"), col("p_partkey"), col("p_name"),
          col("revenue"), col("line_count"), col("rnk").cast("long").as("rnk"))
        .orderBy("p_brand", "rnk")
      graft.plans.TopKPerGroup.withAutoRewrite(windowed)
    },

    // ----- q22: percentiles + deciles (W2/W3 — RFM scoring, 05:83–85,
    // sample_queries.sql:353–354). Unique tiebreaker keeps ntile deterministic.
    QueryDef.sql(
      "q22_customer_percentiles",
      """SELECT c_custkey, c_acctbal,
        |  percent_rank() OVER (ORDER BY c_acctbal, c_custkey) AS bal_pctile,
        |  CAST(ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS BIGINT) AS decile
        |FROM customer
        |ORDER BY c_custkey""".stripMargin,
    ) { (spark, dir) =>
      val w = Window.orderBy(asc("c_acctbal"), asc("c_custkey"))
      Tables(spark, dir).customer
        .select(col("c_custkey"), col("c_acctbal"),
          percent_rank().over(w).as("bal_pctile"),
          ntile(10).over(w).cast("long").as("decile"))
        .orderBy("c_custkey")
    },

    // ----- q23: running total + 7-row moving average with explicit frames
    // (W4/W5 — sample_queries.sql:335–336). Exact decimal inside the frames.
    QueryDef.sql(
      "q23_running_revenue",
      s"""WITH daily AS (
         |  SELECT CAST(o_orderdate AS DATE) AS order_date, COUNT(*) AS n_orders,
         |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec
         |  FROM orders GROUP BY 1)
         |SELECT order_date, n_orders,
         |  CAST(rev_dec AS DOUBLE) AS revenue,
         |  CAST(SUM(rev_dec) OVER (ORDER BY order_date ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_revenue,
         |  CAST(SUM(rev_dec) OVER (ORDER BY order_date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
         |    / COUNT(*) OVER (ORDER BY order_date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS ma7
         |FROM daily
         |ORDER BY order_date""".stripMargin,
    ) { (spark, dir) =>
      val daily = Tables(spark, dir).orders
        .groupBy(to_date(col("o_orderdate")).as("order_date"))
        .agg(count(lit(1)).as("n_orders"), sum(dec(col("o_totalprice"))).as("rev_dec"))
      val wRun = Window.orderBy("order_date").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wMa = Window.orderBy("order_date").rowsBetween(-6, 0)
      daily.select(
        col("order_date"), col("n_orders"),
        col("rev_dec").cast("double").as("revenue"),
        sum("rev_dec").over(wRun).cast("double").as("running_revenue"),
        (sum("rev_dec").over(wMa).cast("double") / count(lit(1)).over(wMa)).as("ma7"))
        .orderBy("order_date")
    },

    // ----- q24: fixed-bucket sessionization, 30-minute windows
    // (ST6a — sample_queries.sql:414–438 toStartOfInterval sessions).
    QueryDef.sql(
      "q24_session_stats",
      s"""WITH sess AS (
         |  SELECT user_id, time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)) AS session_start,
         |    COUNT(*) AS session_events, SUM(CAST(value AS DECIMAL(18,2))) AS session_value
         |  FROM events GROUP BY 1, 2)
         |SELECT user_id,
         |  COUNT(*) AS sessions,
         |  CAST(SUM(session_events) AS BIGINT) AS total_events,
         |  CAST(SUM(session_events) AS DOUBLE) / COUNT(*) AS avg_events_per_session,
         |  CAST(MAX(session_events) AS BIGINT) AS max_session_events,
         |  CAST(SUM(session_value) AS DOUBLE) AS total_value
         |FROM sess GROUP BY user_id
         |ORDER BY user_id""".stripMargin,
    ) { (spark, dir) =>
      val sess = Tables(spark, dir).events
        .groupBy(col("user_id"),
          expr("timestamp_seconds((unix_timestamp(ts) div 1800) * 1800)").as("session_start"))
        .agg(count(lit(1)).as("session_events"), sum(dec(col("value"))).as("session_value"))
      sess.groupBy("user_id")
        .agg(
          count(lit(1)).as("sessions"),
          sum("session_events").cast("long").as("total_events"),
          (sum("session_events").cast("double") / count(lit(1))).as("avg_events_per_session"),
          max("session_events").cast("long").as("max_session_events"),
          sum("session_value").cast("double").as("total_value"))
        .orderBy("user_id")
    },

    // ----- q35: customer CLV/RFM — three percent_rank windows (mixed
    // directions) + threshold segmentation (05-add-refreshable-mvs.sql:55–99;
    // W2 at full fidelity). Recency anchored on max(o_orderdate), monetary
    // ranked on the exact decimal.
    QueryDef.sql(
      "q35_rfm_scores",
      """WITH a AS (SELECT CAST(MAX(o_orderdate) AS DATE) AS anchor FROM orders),
        |stats AS (
        |  SELECT o_custkey AS cust,
        |    CAST(datediff('day', CAST(MAX(o_orderdate) AS DATE), (SELECT anchor FROM a)) AS BIGINT) AS recency_days,
        |    COUNT(*) AS frequency,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary_dec
        |  FROM orders GROUP BY 1),
        |scored AS (
        |  SELECT cust, recency_days, frequency,
        |    CAST(monetary_dec AS DOUBLE) AS monetary,
        |    percent_rank() OVER (ORDER BY recency_days DESC, cust) AS r_pct,
        |    percent_rank() OVER (ORDER BY frequency ASC, cust) AS f_pct,
        |    percent_rank() OVER (ORDER BY monetary_dec ASC, cust) AS m_pct
        |  FROM stats)
        |SELECT cust, recency_days, frequency, monetary, r_pct, f_pct, m_pct,
        |  CASE WHEN r_pct >= 0.75 AND f_pct >= 0.75 AND m_pct >= 0.75 THEN 'champion'
        |       WHEN r_pct >= 0.5 AND f_pct >= 0.5 THEN 'loyal'
        |       WHEN r_pct < 0.25 AND m_pct >= 0.5 THEN 'at_risk'
        |       ELSE 'regular' END AS segment
        |FROM scored
        |ORDER BY cust""".stripMargin,
    ) { (spark, dir) =>
      val t = Tables(spark, dir)
      val anchor = t.orders.agg(max(to_date(col("o_orderdate"))).as("anchor"))
      val stats = t.orders
        .groupBy(col("o_custkey").as("cust"))
        .agg(
          max(to_date(col("o_orderdate"))).as("last_order"),
          count(lit(1)).as("frequency"),
          sum(dec(col("o_totalprice"))).as("monetary_dec"))
        .crossJoin(broadcast(anchor))
        .select(col("cust"),
          datediff(col("anchor"), col("last_order")).cast("long").as("recency_days"),
          col("frequency"), col("monetary_dec"))
      val wR = Window.orderBy(desc("recency_days"), asc("cust"))
      val wF = Window.orderBy(asc("frequency"), asc("cust"))
      val wM = Window.orderBy(asc("monetary_dec"), asc("cust"))
      val scored = stats.select(
        col("cust"), col("recency_days"), col("frequency"),
        col("monetary_dec").cast("double").as("monetary"),
        percent_rank().over(wR).as("r_pct"),
        percent_rank().over(wF).as("f_pct"),
        percent_rank().over(wM).as("m_pct"))
      scored.withColumn("segment",
        when(col("r_pct") >= 0.75 && col("f_pct") >= 0.75 && col("m_pct") >= 0.75, "champion")
          .when(col("r_pct") >= 0.5 && col("f_pct") >= 0.5, "loyal")
          .when(col("r_pct") < 0.25 && col("m_pct") >= 0.5, "at_risk")
          .otherwise("regular"))
        .orderBy("cust")
    },

    // ----- q40: lag/lead period-over-period deltas — daily revenue with
    // previous-day delta and next-day peek (completes the offset-window
    // family; the reference uses islands of this shape via MVs).
    QueryDef.sql(
      "q40_revenue_deltas",
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS order_date,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec
        |  FROM orders GROUP BY 1)
        |SELECT order_date,
        |  CAST(rev_dec AS DOUBLE) AS revenue,
        |  CAST(rev_dec - lag(rev_dec) OVER (ORDER BY order_date) AS DOUBLE) AS delta_prev,
        |  CAST(lead(rev_dec) OVER (ORDER BY order_date) AS DOUBLE) AS next_revenue
        |FROM daily
        |ORDER BY order_date""".stripMargin,
    ) { (spark, dir) =>
      val daily = Tables(spark, dir).orders
        .groupBy(to_date(col("o_orderdate")).as("order_date"))
        .agg(sum(dec(col("o_totalprice"))).as("rev_dec"))
      val w = Window.orderBy("order_date")
      daily.select(
        col("order_date"),
        col("rev_dec").cast("double").as("revenue"),
        (col("rev_dec") - lag("rev_dec", 1).over(w)).cast("double").as("delta_prev"),
        lead("rev_dec", 1).over(w).cast("double").as("next_revenue"))
        .orderBy("order_date")
    },

    // ----- q25: ordered event journey per user — groupArray → arrayStringConcat
    // (A10 — sample_queries.sql:422,435). Spark side sorts collected structs so
    // the result is deterministic regardless of shuffle arrival order.
    QueryDef.sql(
      "q25_user_journey",
      """WITH e AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT user_id,
        |  string_agg(event_type, ' -> ' ORDER BY rn) AS journey,
        |  COUNT(*) AS steps
        |FROM e WHERE rn <= 20
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    ) { (spark, dir) =>
      val w = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
      Tables(spark, dir).events
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 20)
        .groupBy("user_id")
        .agg(
          concat_ws(" -> ",
            transform(array_sort(collect_list(struct(col("rn"), col("event_type")))),
              x => x.getField("event_type"))).as("journey"),
          count(lit(1)).as("steps"))
        .orderBy("user_id")
    },
  )
}
