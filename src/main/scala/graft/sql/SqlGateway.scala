package graft.sql

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.functions.Dialect

/** Ad-hoc SQL entry point (SURVEY.md §2.10/§3.3): the reference exposes raw
  * SELECT execution to its UI and NL-chat service behind an allowlist
  * validator (app_interactive.py:268–276, chat_service.py:126–143 — which it
  * implements with unsafe substring checks; we use word-boundary token
  * matching instead). Spark SQL supplies the parser; the ClickHouse dialect
  * names come from [[Dialect]].
  */
object SqlGateway {

  private val allowedStarts = Seq("select", "with", "show", "describe", "explain")
  private val deniedTokens = Set(
    "insert", "update", "delete", "drop", "alter", "create",
    "truncate", "merge", "grant", "revoke", "refresh", "vacuum")

  /** Validate: must start with an allowed verb; no mutating token anywhere. */
  def validate(sql: String): Either[String, String] = {
    val trimmed = sql.trim
    val lowered = trimmed.toLowerCase
    if (!allowedStarts.exists(lowered.startsWith))
      Left(s"only ${allowedStarts.mkString("/")} statements are allowed")
    else {
      val tokens = lowered.split("[^a-z_]+").toSet
      val bad = tokens.intersect(deniedTokens)
      if (bad.nonEmpty) Left(s"forbidden keyword(s): ${bad.toSeq.sorted.mkString(", ")}")
      else Right(trimmed)
    }
  }

  /** Register the testdata tables as temp views + dialect functions, then run. */
  def execute(spark: SparkSession, dir: String, sql: String): DataFrame =
    validate(sql) match {
      case Left(err) => throw new IllegalArgumentException(s"rejected query: $err")
      case Right(q) =>
        val t = Tables(spark, dir)
        Seq(
          "region" -> t.region, "nation" -> t.nation, "customer" -> t.customer,
          "supplier" -> t.supplier, "part" -> t.part, "orders" -> t.orders,
          "lineitem" -> t.lineitem, "events" -> t.events,
          "documents" -> t.documents, "embeddings" -> t.embeddings,
        ).foreach { case (n, df) => df.createOrReplaceTempView(n) }
        Dialect.register(spark)
        spark.sql(Dialect.translate(q))
    }

  val defs: Seq[QueryDef] = Seq(

    // ----- sq02/sq03: the reference's own dashboard SQL, near-verbatim in
    // ClickHouse dialect (count(), countIf, toYYYYMM), over the demo-schema
    // views (users/orders with the reference's column names —
    // sources/DemoSchema per FIXTURES §C). Oracles run the ANSI equivalent on
    // the underlying TPC-H-ish tables.
    QueryDef.sql(
      "sq02_reference_top_countries",
      """SELECT n_name AS country,
        |  COUNT(*) AS total_users,
        |  COUNT(CASE WHEN c_acctbal >= 5000 THEN 1 END) AS premium_users,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY total_users DESC, country
        |LIMIT 10""".stripMargin,
    ) { (spark, dir) =>
      graft.sources.DemoSchema.register(spark, dir)
      Dialect.register(spark)
      spark.sql(Dialect.translate(
        """SELECT country,
          |  count() AS total_users,
          |  countIf(is_premium = 1) AS premium_users,
          |  CAST(sum(CAST(total_spent AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
          |FROM users
          |GROUP BY country
          |ORDER BY total_users DESC, country
          |LIMIT 10""".stripMargin))
    },

    QueryDef.sql(
      "sq03_reference_monthly_revenue",
      """SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS order_month,
        |  COUNT(*) AS orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY 1
        |ORDER BY order_month""".stripMargin,
    ) { (spark, dir) =>
      graft.sources.DemoSchema.register(spark, dir)
      Dialect.register(spark)
      spark.sql(Dialect.translate(
        """SELECT CAST(toYYYYMM(order_date) AS BIGINT) AS order_month,
          |  count() AS orders,
          |  CAST(sum(CAST(total_amount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
          |FROM orders_demo WHERE status = 'completed'
          |GROUP BY 1
          |ORDER BY order_month""".stripMargin))
    },

    // ----- sq05: the reference's 30-minute sessionization SQL
    // (sample_queries.sql:414–438) near-verbatim — toStartOfInterval + count()
    // over the demo events view; oracle uses epoch floor arithmetic.
    QueryDef.sql(
      "sq05_reference_sessions",
      """SELECT user_id,
        |  time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)) AS session_start,
        |  COUNT(*) AS session_events
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY user_id, session_start
        |LIMIT 500""".stripMargin,
    ) { (spark, dir) =>
      graft.sources.DemoSchema.register(spark, dir)
      Dialect.register(spark)
      spark.sql(Dialect.translate(
        """SELECT user_id,
          |  toStartOfInterval(event_timestamp, INTERVAL 30 MINUTE) AS session_start,
          |  count() AS session_events
          |FROM events_demo
          |GROUP BY user_id, session_start
          |ORDER BY user_id, session_start
          |LIMIT 500""".stripMargin))
    },

    // ----- sq06: the reference's State/Merge funnel read
    // (sample_queries.sql:77–88) near-verbatim over the cascade's funnel MV —
    // countMerge/sumMerge collapse the persisted per-(user, date) partial
    // state; today()-30d becomes a max(event_date) anchor (never wall-clock
    // in oracle-checked queries). Oracle recomputes from raw events.
    QueryDef.sql(
      "sq06_funnel_state_merge",
      """WITH f AS (SELECT CAST(ts AS DATE) AS d, event_type, value FROM events),
        |a AS (SELECT max(d) AS mx FROM f)
        |SELECT COUNT(*) AS total_events,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS views,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  round(CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE) * 100.0
        |    / SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END), 2) AS conversion_rate,
        |  round(CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS DOUBLE) * 100.0
        |    / SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END), 2) AS cart_rate
        |FROM f, a WHERE d >= mx - INTERVAL 30 DAY""".stripMargin,
    ) { (spark, dir) =>
      graft.streaming.MvCascade.mv(spark, dir, "mv_user_funnel")
        .createOrReplaceTempView("mv_user_funnel")
      Dialect.register(spark)
      spark.sql(Dialect.translate(
        """SELECT countMerge(total_events) AS total_events,
          |  sumMerge(views) AS views,
          |  sumMerge(clicks) AS clicks,
          |  sumMerge(purchases) AS purchases,
          |  CAST(sumMerge(val_dec) AS DOUBLE) AS revenue,
          |  round(CAST(sumMerge(purchases) AS DOUBLE) * 100.0 / sumMerge(views), 2) AS conversion_rate,
          |  round(CAST(sumMerge(clicks) AS DOUBLE) * 100.0 / sumMerge(views), 2) AS cart_rate
          |FROM mv_user_funnel
          |WHERE event_date >= (SELECT max(event_date) FROM mv_user_funnel) - INTERVAL 30 DAY""".stripMargin))
    },

    // ----- sq04: correlated scalar subqueries through the raw SQL path —
    // Catalyst's RewriteCorrelatedScalarSubquery handles the decorrelation
    // the DataFrame path does by hand in q17 (SURVEY §4). Same SQL runs in
    // both engines.
    QueryDef.sql(
      "sq04_correlated_subquery",
      """SELECT c_custkey, c_name,
        |  (SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders,
        |  CAST((SELECT MAX(CAST(o_totalprice AS DECIMAL(18,2))) FROM orders
        |        WHERE o_custkey = c_custkey) AS DOUBLE) AS max_order
        |FROM customer
        |WHERE (SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey) >= 15
        |ORDER BY n_orders DESC, c_custkey
        |LIMIT 50""".stripMargin,
    ) { (spark, dir) =>
      execute(spark, dir,
        """SELECT c_custkey, c_name,
          |  (SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders,
          |  CAST((SELECT MAX(CAST(o_totalprice AS DECIMAL(18,2))) FROM orders
          |        WHERE o_custkey = c_custkey) AS DOUBLE) AS max_order
          |FROM customer
          |WHERE (SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey) >= 15
          |ORDER BY n_orders DESC, c_custkey
          |LIMIT 50""".stripMargin)
    },

    // ----- sq07: the full reference UX — a ClickHouse-dialect query typed
    // against the BASE events table, transparently served from the
    // pre-aggregated MV by MvRouting (projection auto-selection end-to-end:
    // dialect translate → parse → analyze → route → MV scan). The oracle
    // recomputes from raw events, proving the routed gateway result exact.
    QueryDef.sql(
      "sq07_gateway_mv_routing",
      """SELECT event_type, COUNT(*) AS events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    ) { (spark, dir) =>
      graft.streaming.MvCascade.run(spark, dir) // MVs fresh for routing
      graft.plans.MvRouting.route(execute(spark, dir,
        """SELECT event_type, count() AS events,
          |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin))
    },

    // ----- sq01: a ClickHouse-dialect query through the gateway — toYYYYMM /
    // countIf / sumIf / toDate resolve via the injected aliases; the oracle is
    // the ANSI equivalent.
    QueryDef.sql(
      "sq01_adhoc_dialect_sql",
      """SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS order_month,
        |  COUNT(*) AS orders,
        |  COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS fulfilled,
        |  CAST(COALESCE(SUM(CASE WHEN o_totalprice > 100000
        |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS big_order_revenue
        |FROM orders
        |GROUP BY 1
        |ORDER BY order_month""".stripMargin,
    ) { (spark, dir) =>
      execute(spark, dir,
        """SELECT CAST(toYYYYMM(o_orderdate) AS BIGINT) AS order_month,
          |  count(*) AS orders,
          |  countIf(o_orderstatus = 'F') AS fulfilled,
          |  CAST(sumIf(CAST(o_totalprice AS DECIMAL(18,2)), o_totalprice > 100000) AS DOUBLE) AS big_order_revenue
          |FROM orders
          |GROUP BY 1
          |ORDER BY order_month""".stripMargin)
    },
  )
}
