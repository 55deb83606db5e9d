package graft.operators

import graft.{QueryDef, Residency, Tables}
import graft.QueryDef.{dec, decSum, decSumSql}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Refreshable-analytics query family (SURVEY.md §2.3 J5–J11): gap-fill date
  * spine, market basket self-join, cohort retention, product affinity
  * (decorrelated scalar subquery), KPI snapshot, chained dictionary
  * enrichment. Mirrors 05-add-refreshable-mvs.sql.disabled in the reference.
  */
object Analytics {

  /** Basket caps for the pair self-joins (q15/q17) — the one plan family that
    * goes QUADRATIC on a hot key: a user (q17) or order (q15) with n distinct
    * items contributes n·(n−1)/2 pairs, so one 10⁶-item power-law user at
    * 100 TB would put 5·10¹¹ pairs on a single reducer. Standard
    * market-basket practice caps the basket: keep the cap-smallest item ids
    * per key (deterministic, expressible in the oracle as
    * `row_number() OVER (PARTITION BY key ORDER BY item) <= cap`), bounding
    * pairs per key at cap²/2. The cap is enforced by [[graft.plans.TopKPerGroup]],
    * whose MAP-SIDE partial heap also bounds what a hot key ships into the
    * exchange (≤ cap rows per input partition) — a window row_number would
    * still shuffle and sort the full hot group first.
    *
    * Values sit far above the data's observed maxima (105 parts/user and 17
    * parts/order at sf0.1; replication-scaled sf1 keeps per-key baskets
    * unchanged), so at test scale the capped results are identical to the
    * uncapped rounds 1–5 — the cap is pure scale armor. Constants, not confs:
    * the oracle SQL bakes the same number in, and a runtime-tunable cap would
    * silently fork the two definitions.
    */
  val BasketCapPerUser = 256
  val PairCapPerOrder = 64

  /** Keep the `cap` smallest DISTINCT `itemCol` values per `keyCol` via the
    * bounded-heap operator's ascending dedup mode (ordering-equal rows kept
    * once). Callers feed the RAW (non-distinct) relation: the distinct rides
    * the heap passes, so one exchange on `keyCol` replaces the old
    * distinct-(key,item) exchange PLUS the top-K exchange — the r6→r7 fix
    * for the basket caps' sf0.1 cost.
    *
    * r14 (q15 capBasket decomposition, SCALE.md §0i): ascending mode drops
    * the negated sort column the old formulation shipped through the
    * exchange (three longs → two, −33 % bytes), and because (key, item) are
    * non-null longs here (TPC-H NOT NULL keys), both heap passes run on the
    * primitive long→long[] state instead of per-key TreeSets of copied rows
    * — the decomposition measured the generic path GC-bound (15 s GC in a
    * 45 s CPU stage at sf1; codegen-distinct does the same dedup with 0.5 s
    * GC).
    */
  private[graft] def capBasket(df: org.apache.spark.sql.DataFrame, keyCol: String, itemCol: String, cap: Int) =
    graft.plans.TopKPerGroup.topKSmallestDistinct(
      df.select(keyCol, itemCol), Seq(keyCol), itemCol, cap)
      .drop("rnk")

  /** REMOVED in round 11: the r9/r10 pair-mass shuffle sizing
    * (pairMassUpperBound + sizePairShuffle — raise this job's AQE
    * initialPartitionNum to pairMass/1M reducers, the local[] stand-in for
    * per-job shuffle sizing). A monotonic isolated-process min-of-3 A/B
    * falsified its premise on this box (SCALE.md §0f.3):
    *
    *   q17 sf10: 150 parts (input-derived, no raise) 155.1 s
    *             433 parts 270.3 s · 1024 parts 324.6 s
    *   q17 sf3:   39 parts 37.6 s · 394 parts 38.7 s
    *
    * On a fixed-width box, reducers beyond the input-derived count add only
    * task scheduling + shuffle-file overhead: concurrency is pinned at the
    * core count, and the per-reducer aggregation state the sizing tried to
    * bound (1 M groups ≈ 64 MB) spills GRACEFULLY at 8 M groups/reducer —
    * the map-side partial, not the reducer hash map, owns the spill
    * (§0f.0's slice A/B: the whole stage's residual is 32-thread memory
    * contention, distribution-safe). On a real cluster, per-job reducer
    * sizing belongs to the scheduler (reducer count tracks executor slots,
    * which DO grow with the job); encoding it as a local conf raise was
    * modeling a resource the box doesn't have.
    */

  val defs: Seq[QueryDef] = Seq(

    // ----- q14: date-spine LEFT JOIN gap filling (J5/S6 — sample_queries.sql:370–383).
    // Spine generated in-plan from min/max order dates (spark.range-equivalent
    // `sequence` + explode — no driver-side loop, scales to any date span).
    QueryDef.sql(
      "q14_date_spine_gapfill",
      s"""WITH bounds AS (
         |  SELECT CAST(MIN(o_orderdate) AS DATE) AS d0, CAST(MAX(o_orderdate) AS DATE) AS d1 FROM orders),
         |spine AS (
         |  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS order_date FROM bounds),
         |daily AS (
         |  SELECT CAST(o_orderdate AS DATE) AS order_date, COUNT(*) AS n_orders,
         |         ${decSumSql("o_totalprice")} AS revenue
         |  FROM orders GROUP BY 1)
         |SELECT s.order_date,
         |  CAST(COALESCE(d.n_orders, 0) AS BIGINT) AS n_orders,
         |  CAST(COALESCE(d.revenue, 0) AS DOUBLE) AS revenue
         |FROM spine s LEFT JOIN daily d ON s.order_date = d.order_date
         |ORDER BY s.order_date""".stripMargin,
    ) { (spark, dir) =>
      val t = Tables(spark, dir)
      val spine = t.orders
        .agg(min(to_date(col("o_orderdate"))).as("d0"), max(to_date(col("o_orderdate"))).as("d1"))
        .select(explode(sequence(col("d0"), col("d1"))).as("order_date"))
      val daily = t.orders
        .groupBy(to_date(col("o_orderdate")).as("order_date"))
        .agg(count(lit(1)).as("n_orders"), decSum(col("o_totalprice")).as("revenue"))
      spine.join(daily, Seq("order_date"), "left")
        .select(
          col("order_date"),
          coalesce(col("n_orders"), lit(0)).cast("long").as("n_orders"),
          coalesce(col("revenue"), lit(0)).cast("double").as("revenue"))
        .orderBy("order_date")
    },

    // ----- q15: market-basket pairs — self-join with equi + theta residual
    // (J6/J7 — 05:181–184: p1.user = p2.user AND p1.product < p2.product).
    // Baskets capped at PairCapPerOrder items (see the cap scaladoc above):
    // identical results at test scale, bounded pairs-per-order at any scale.
    QueryDef.sql(
      "q15_market_basket",
      s"""WITH items0 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |items AS (
         |  SELECT l_orderkey, l_partkey FROM (
         |    SELECT l_orderkey, l_partkey,
         |      row_number() OVER (PARTITION BY l_orderkey ORDER BY l_partkey) AS rn
         |    FROM items0) capped
         |  WHERE rn <= $PairCapPerOrder)
         |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         |  pa.p_name AS part_a_name, pb.p_name AS part_b_name,
         |  COUNT(*) AS co_count
         |FROM items a
         |JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |JOIN part pa ON a.l_partkey = pa.p_partkey
         |JOIN part pb ON b.l_partkey = pb.p_partkey
         |GROUP BY 1, 2, 3, 4
         |HAVING COUNT(*) >= 2
         |ORDER BY co_count DESC, part_a, part_b
         |LIMIT 50""".stripMargin,
    ) { (spark, dir) =>
      val t = Tables(spark, dir)
      // both self-join sides consume the same capped distinct: ReusedExchange
      // shares the cap's exchange across them (verified in the physical
      // plan), so no snap — a snap here would break that reuse.
      // No .distinct() — capBasket's dedup heap folds it into its one exchange
      val items = capBasket(
        t.lineitem.select("l_orderkey", "l_partkey"),
        "l_orderkey", "l_partkey", PairCapPerOrder)
      val a = items.toDF("o", "part_a")
      val b = items.toDF("o", "part_b")
      val pa = t.part.select(col("p_partkey").as("pa_key"), col("p_name").as("part_a_name"))
      val pb = t.part.select(col("p_partkey").as("pb_key"), col("p_name").as("part_b_name"))
      a.join(b, Seq("o")).filter(col("part_a") < col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(count(lit(1)).as("co_count"))
        .filter(col("co_count") >= 2)
        .join(broadcast(pa), col("part_a") === col("pa_key"))
        .join(broadcast(pb), col("part_b") === col("pb_key"))
        .select("part_a", "part_b", "part_a_name", "part_b_name", "co_count")
        .orderBy(desc("co_count"), asc("part_a"), asc("part_b"))
        .limit(50)
    },

    // ----- q16: cohort retention — first-order month vs activity month
    // (J8 — 05:107–147; month-diff via exact linear month index, SURVEY §2.8
    // dateDiff('month') boundary semantics).
    QueryDef.sql(
      "q16_cohort_retention",
      """WITH firsts AS (
        |  SELECT o_custkey AS cust,
        |    CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS cohort_month,
        |    CAST(MIN(year(o_orderdate) * 12 + month(o_orderdate)) AS BIGINT) AS cohort_idx
        |  FROM orders GROUP BY 1),
        |activity AS (
        |  SELECT DISTINCT o_custkey AS cust,
        |    CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS act_idx
        |  FROM orders)
        |SELECT f.cohort_month, a.act_idx - f.cohort_idx AS months_since,
        |  COUNT(DISTINCT a.cust) AS active_customers
        |FROM firsts f JOIN activity a ON f.cust = a.cust
        |GROUP BY 1, 2
        |ORDER BY cohort_month, months_since""".stripMargin,
    ) { (spark, dir) =>
      val t = Tables(spark, dir)
      val monthIdx = (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).cast("long")
      val firsts = t.orders.groupBy(col("o_custkey").as("cust"))
        .agg(
          to_date(date_trunc("month", min(col("o_orderdate")))).as("cohort_month"),
          min(monthIdx).as("cohort_idx"))
      val activity = t.orders
        .select(col("o_custkey").as("cust"), monthIdx.as("act_idx")).distinct()
      firsts.join(activity, Seq("cust"))
        .groupBy(col("cohort_month"), (col("act_idx") - col("cohort_idx")).as("months_since"))
        .agg(countDistinct(col("cust")).as("active_customers"))
        .orderBy("cohort_month", "months_since")
    },

    // ----- q17: product affinity — correlated scalar subquery decorrelated by
    // hand (J10 — 05:176–180: pair count / per-product buyer count).
    // Baskets capped at BasketCapPerUser items (see the cap scaladoc above):
    // identical results at test scale, bounded pairs-per-user at any scale;
    // buyer_count is computed over the SAME capped set so both legs of the
    // affinity ratio share one definition.
    QueryDef.sql(
      "q17_product_affinity",
      s"""WITH up0 AS (
         |  SELECT DISTINCT o_custkey AS user_id, l_partkey AS part_id
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |up AS (
         |  SELECT user_id, part_id FROM (
         |    SELECT user_id, part_id,
         |      row_number() OVER (PARTITION BY user_id ORDER BY part_id) AS rn
         |    FROM up0) capped
         |  WHERE rn <= $BasketCapPerUser),
         |buyers AS (SELECT part_id, COUNT(*) AS buyer_count FROM up GROUP BY 1),
         |pairs AS (
         |  SELECT a.part_id AS part_a, b.part_id AS part_b, COUNT(*) AS both_count
         |  FROM up a JOIN up b ON a.user_id = b.user_id AND a.part_id < b.part_id
         |  GROUP BY 1, 2)
         |SELECT p.part_a, p.part_b, p.both_count, ba.buyer_count AS part_a_buyers,
         |  CAST(p.both_count AS DOUBLE) / ba.buyer_count AS affinity
         |FROM pairs p JOIN buyers ba ON p.part_a = ba.part_id
         |WHERE p.both_count >= 3
         |ORDER BY affinity DESC, part_a, part_b
         |LIMIT 50""".stripMargin,
    ) { (spark, dir) =>
      val t = Tables(spark, dir)
      // three consumers (buyers, pair side a, pair side b) all hang off the
      // same capped distinct (snapped below).
      // Measured alternative (round 4): collect_list per-user baskets +
      // posexplode×slice pair generation is ~1.8× SLOWER at sf0.1 (6.3 s vs
      // 3.6 s) — the first explode carries a copy of the whole basket array
      // on every output row. The self-join with shared exchange stays.
      // No .distinct() — capBasket's dedup heap folds it into its one exchange
      val up = capBasket(
        t.lineitem
          .join(t.orders, col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey").as("user_id"), col("l_partkey").as("part_id")),
        "user_id", "part_id", BasketCapPerUser)
      // r15: the frequency screen (below) is ON at every scale. It was built
      // for the fourth decade (the 1.3 B-row pair exchange is the entry's
      // dominant wall term there — r14 verdict Next #2), and an r15
      // scale-conditional gate was measured and REJECTED: even at sf0.1 the
      // screened shape wins (2.29 s vs 3.17 s unscreened, same session,
      // min-of-3) because the near-no-reduction pair aggregate shrinks to
      // the screen's survivors. The loud cellsFor refusal already guards
      // the only regime where the screen can't pay (mass past the sketch
      // ceiling).
      //
      // The mass probe, the sketch pass and the main pass are separate jobs
      // over the capped baskets, which ReusedExchange cannot span (reuse is
      // per-query-execution), so the capped distinct is snapped once and
      // all three read its blocks.
      val upC = Residency.snap(up)
      val buyers = upC.groupBy("part_id").agg(count(lit(1)).as("buyer_count"))
      val a = upC.toDF("u", "part_a")
      val b = upC.toDF("u", "part_b")
      // The pair count is a near-no-reduction aggregation: at sf3, 394 M raw
      // pairs hold 381 M DISTINCT (part_a, part_b) groups (only 270 k reach
      // both_count >= 3), so at 32 FIXED reducers each final-agg hash map
      // held ~12 M groups, outgrew task memory, and spilled 62 GB — the r8
      // verdict's superlinear sf1→sf3 curve (4.8× on 3×), SCALE.md §0c.1.
      // The fix is the session's AQE initialPartitionNum (GraftSession):
      // reducer count derives from input size, bounding per-reducer
      // aggregation state (a 512-init A/B halved the
      // spill; r9 full-bench sf3 reads 50.3 s vs r8's 85.1 on this same
      // plan — attribution split between conf and session variance,
      // SCALE §0c.1). Two plan rewrites were measured
      // and REJECTED: packing the pair into one long key (75 s — the
      // partial map still fills; entry size wasn't the binding term) and
      // pre-repartitioning by the pair key to aggregate purely post-shuffle
      // (88 s, zero spill but a wasted second hash pass over all 394 M
      // rows). The map-side partial agg's ~3 % reduction is the price of
      // Spark's fixed partial+final shape; its spill is bounded per-task
      // and the reducer-side maps are what had to shrink.
      //
      // Fourth decade (sf10): round 11 A/B'd the r9/r10 pair-mass reducer
      // raise here and REMOVED it — input-derived reducers (150) run this
      // entry 155.1 s min-of-3 isolated where the 1024-raise ran 324.6 s
      // (monotonic: 433 reducers → 270.3 s; sf3 equally prefers no raise,
      // 37.6 vs 38.7 s). See the class-level note above and SCALE.md §0f.3;
      // the remaining fourth-decade residual is 32-thread memory contention,
      // measured distribution-safe by the §0f.0 slice A/B.
      // Round 12 (VERDICT r11 item 2): the pair aggregation now runs on ONE
      // packed BIGINT key `(part_a << 32) | part_b` and unpacks at output —
      // the r11 slice A/B proved the fourth-decade residual is memory-system
      // pressure ∝ bytes moved, and shrinking the partial-agg exchange row
      // from (long, long, count) to (long, count) is a measured ~20 % wall
      // win at sf10, POSITION-MATCHED ACROSS BOTH RUN ORDERS (ratios 0.79 /
      // 0.81 — the A/B ran twice with the variant order
      // reversed because same-JVM warmth is worth ~2×, bigger than the plan
      // effect itself; SCALE.md §0g.3). Re-measures and overturns the
      // r8-era rejection, which ran at sf3 under fixed 32 reducers where
      // final-agg hash-map SIZE, not bytes, was the binding term. Pack
      // safety: both ids must fit 32 bits (guarded below — at >4 B parts a
      // deployment widens the key).
      // Guard domain: the packed values are l_partkey (via up/part_id), not
      // p_partkey — the part-table bounds are valid only under the TPC-H FK
      // l_partkey ⊆ p_partkey, which Tables' generator upholds. Both bounds
      // matter: a negative key would smear over part_a's bits and silently
      // merge distinct pairs, so we check min ≥ 0 alongside max < 2^32.
      val partBounds = t.part.agg(min(col("p_partkey")), max(col("p_partkey"))).head()
      val (minPart, maxPart) = (partBounds.getLong(0), partBounds.getLong(1))
      require(minPart >= 0L && maxPart <= 0xFFFFFFFFL,
        s"q17 pair pack needs 0 <= partkey < 2^32 (FK l_partkey ⊆ p_partkey), " +
          s"got [$minPart, $maxPart] — widen the pack")
      // Round 15 (VERDICT r14 Next #2): exact-preserving FREQUENCY SCREEN on
      // the pair exchange. HAVING both_count >= 3 discards the Zipfian tail
      // of <3-count pairs AFTER shuffling it (at sf10 the 1.3 B-row pair
      // exchange is the entry's dominant wall term; survivors are ~10⁻³ of
      // distinct pairs). A first map-side pass builds a 2-bit saturating
      // counting sketch over the packed pair key; the main pass drops
      // non-candidate pairs BEFORE the exchange. False positives only —
      // the exact recount + HAVING already in the plan absorb them, so the
      // result (and the oracle SQL) is unchanged by construction. See
      // FrequencyScreen's scaladoc for the load math and the loud refusal
      // past the sketch's mass ceiling.
      val pairStream = a.join(b, Seq("u")).filter(col("part_a") < col("part_b"))
        .select(shiftleft(col("part_a"), 32).bitwiseOR(col("part_b")).as("pk"))
      val screened = {
        // exact screened mass from the capped basket sizes
        val massRow = upC.groupBy("user_id").agg(count(lit(1)).as("n"))
          .agg(sum(col("n") * (col("n") - lit(1)))).head()
        val pairMass = if (massRow.isNullAt(0)) 0L else massRow.getLong(0) / 2
        graft.plans.FrequencyScreen.cellsFor(pairMass) match {
          case Some(cells) =>
            val sketch = graft.plans.FrequencyScreen.buildThresholdSketch(pairStream, "pk", cells)
            val bc = spark.sparkContext.broadcast(sketch)
            pairStream.filter(
              graft.plans.FrequencyScreen.mightReachThree(col("pk"), bc, cells))
          case None =>
            System.err.println(s"[q17] frequency screen REFUSED: pair mass $pairMass " +
              s"exceeds the sketch ceiling (load > ${graft.plans.FrequencyScreen.MaxLoad} " +
              s"at ${graft.plans.FrequencyScreen.MaxCells} cells) — running unscreened; " +
              "shard the sketch by key range to extend it")
            pairStream
        }
      }
      val pairs = screened
        .groupBy("pk")
        .agg(count(lit(1)).as("both_count"))
        .filter(col("both_count") >= 3)
        .select(shiftrightunsigned(col("pk"), 32).as("part_a"),
          col("pk").bitwiseAND(lit(0xFFFFFFFFL)).as("part_b"),
          col("both_count"))
      pairs
        .join(buyers.withColumnRenamed("part_id", "part_a").withColumnRenamed("buyer_count", "part_a_buyers"), Seq("part_a"))
        .select(col("part_a"), col("part_b"), col("both_count"), col("part_a_buyers"),
          (col("both_count").cast("double") / col("part_a_buyers")).as("affinity"))
        .orderBy(desc("affinity"), asc("part_a"), asc("part_b"))
        .limit(50)
    },

    // ----- q18: KPI snapshot — the 17-scalar-subquery pattern folded into one
    // pass per source table + cross-join of 1-row aggregates (J11 — 05:198–223;
    // SURVEY §7.4 "fold into ~4 passes").
    QueryDef.sql(
      "q18_kpi_snapshot",
      s"""SELECT
         |  (SELECT COUNT(*) FROM customer) AS total_customers,
         |  (SELECT ${decSumSql("c_acctbal")} FROM customer) AS total_acctbal,
         |  (SELECT COUNT(*) FROM orders) AS total_orders,
         |  (SELECT ${decSumSql("o_totalprice")} FROM orders) AS total_order_value,
         |  (SELECT ${decSumSql("o_totalprice")} / COUNT(*) FROM orders) AS avg_order_value,
         |  (SELECT COUNT(*) FROM orders WHERE o_orderstatus = 'F') AS fulfilled_orders,
         |  (SELECT COUNT(*) FROM events) AS total_events,
         |  (SELECT COUNT(DISTINCT user_id) FROM events) AS active_users,
         |  (SELECT ${decSumSql("value")} FROM events) AS total_event_value,
         |  (SELECT COUNT(*) FROM lineitem) AS total_lineitems""".stripMargin,
    ) { (spark, dir) =>
      val t = Tables(spark, dir)
      val c = t.customer.agg(
        count(lit(1)).as("total_customers"),
        decSum(col("c_acctbal")).as("total_acctbal"))
      val o = t.orders.agg(
        count(lit(1)).as("total_orders"),
        decSum(col("o_totalprice")).as("total_order_value"),
        (decSum(col("o_totalprice")) / count(lit(1))).as("avg_order_value"),
        count(when(col("o_orderstatus") === "F", 1)).as("fulfilled_orders"))
      val e = t.events.agg(
        count(lit(1)).as("total_events"),
        countDistinct(col("user_id")).as("active_users"),
        decSum(col("value")).as("total_event_value"))
      val l = t.lineitem.agg(count(lit(1)).as("total_lineitems"))
      c.crossJoin(o).crossJoin(e).crossJoin(l)
        .select("total_customers", "total_acctbal", "total_orders", "total_order_value",
          "avg_order_value", "fulfilled_orders", "total_events", "active_users",
          "total_event_value", "total_lineitems")
    },

    // ----- q19: chained dictionary enrichment — orders → customer → nation →
    // region broadcast lookups (J9 — sample_queries.sql:194–198 multi-level dictGet).
    QueryDef.sql(
      "q19_order_region_revenue",
      s"""SELECT r_name AS region, COUNT(*) AS n_orders,
         |  ${decSumSql("o_totalprice")} AS revenue,
         |  COUNT(DISTINCT o_custkey) AS customers
         |FROM orders
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY 1
         |ORDER BY revenue DESC, region""".stripMargin,
    ) { (spark, dir) =>
      val t = Tables(spark, dir)
      t.orders
        .join(broadcast(t.customer.select("c_custkey", "c_nationkey")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name").as("region"))
        .agg(
          count(lit(1)).as("n_orders"),
          decSum(col("o_totalprice")).as("revenue"),
          countDistinct(col("o_custkey")).as("customers"))
        .orderBy(desc("revenue"), asc("region"))
    },

    // ----- q49: windowFunnel — ClickHouse's parametric sequence aggregate
    // (the strict-order, bounded-window funnel the reference's CASE-pivot
    // funnels q08/q09 approximate away): per user, the deepest level k such
    // that SOME chain view→click→purchase occurs in timestamp order with
    // ts_k − ts_1 ≤ 24 h. Computed as a per-user left fold over the
    // time-sorted events with a 3-slot state of CHAIN-START times, where
    // slot s keeps the LATEST start among chains reaching level s — the
    // dominance argument: of two chains at the same level, the later start
    // can extend everywhere the earlier one can, so the greedy fold is
    // exact. One shuffle (groupBy user), per-user state is 3 longs, the
    // fold is linear in the user's events; the oracle replays the identical
    // fold via DuckDB list_reduce, so the per-user levels are hash-exact —
    // not just the level histogram.
    QueryDef.sql(
      "q49_window_funnel",
      """WITH f AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2 ELSE 3 END AS step
        |  FROM events WHERE event_type IN ('view', 'click', 'purchase')),
        |g AS (
        |  SELECT user_id, COUNT(*) AS n_events,
        |    list([ts_us, step] ORDER BY ts_us, event_id) AS evs
        |  FROM f GROUP BY 1),
        |r AS (
        |  SELECT user_id, n_events,
        |    list_reduce(list_prepend([CAST(-1 AS BIGINT), -1, -1], evs), (acc, x) -> [
        |      CASE WHEN x[2] = 1 THEN GREATEST(acc[1], x[1]) ELSE acc[1] END,
        |      CASE WHEN x[2] = 2 AND acc[1] >= 0 AND x[1] - acc[1] <= 86400000000 THEN GREATEST(acc[2], acc[1]) ELSE acc[2] END,
        |      CASE WHEN x[2] = 3 AND acc[2] >= 0 AND x[1] - acc[2] <= 86400000000 THEN GREATEST(acc[3], acc[2]) ELSE acc[3] END
        |    ]) AS st
        |  FROM g)
        |SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
        |  CAST(CASE WHEN st[3] >= 0 THEN 3 WHEN st[2] >= 0 THEN 2
        |            WHEN st[1] >= 0 THEN 1 ELSE 0 END AS BIGINT) AS funnel_level
        |FROM r ORDER BY user_id""".stripMargin,
    ) { (spark, dir) =>
      val e = Tables(spark, dir).events
        .filter(col("event_type").isin("view", "click", "purchase"))
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"),
          when(col("event_type") === "view", 1L)
            .when(col("event_type") === "click", 2L)
            .otherwise(3L).as("step"))
      windowFunnelLevels(e, 86400000000L).orderBy("user_id")
    },

    // ----- q50: retention() — ClickHouse's parametric retention aggregate
    // (docs: retention(cond1, …, condN) per user: r1 = cond1 held on some
    // row; rK = cond1 AND condK both held). Conditions here are "active on
    // anchor day + {0, 1, 3, 7}" with the anchor the in-plan global
    // min(event date) — never wall-clock (QueryDef parity rules). Distinct
    // from q16's cohort-join retention: this is the per-user condition
    // vector, gated on the anchor-day condition exactly as ClickHouse
    // defines it. Plan: one groupBy(user) with four conditional MAX
    // aggregates (map-side combine, 4-int state) after a broadcast of the
    // 1-row anchor scalar — no join against a cohort table, no second
    // shuffle. At 100 TB the anchor scalar is metadata-scale and the
    // per-user state is fixed-width, so the whole thing is one exchange.
    QueryDef.sql(
      "q50_retention",
      """WITH a AS (SELECT MIN(CAST(ts AS DATE)) AS a0 FROM events),
        |g AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN CAST(ts AS DATE) = a0 THEN 1 ELSE 0 END) AS c0,
        |    MAX(CASE WHEN CAST(ts AS DATE) = a0 + 1 THEN 1 ELSE 0 END) AS c1,
        |    MAX(CASE WHEN CAST(ts AS DATE) = a0 + 3 THEN 1 ELSE 0 END) AS c3,
        |    MAX(CASE WHEN CAST(ts AS DATE) = a0 + 7 THEN 1 ELSE 0 END) AS c7
        |  FROM events CROSS JOIN a GROUP BY user_id)
        |SELECT user_id, CAST(c0 AS BIGINT) AS r0,
        |  CAST(c0 * c1 AS BIGINT) AS r1, CAST(c0 * c3 AS BIGINT) AS r3,
        |  CAST(c0 * c7 AS BIGINT) AS r7
        |FROM g ORDER BY user_id""".stripMargin,
    ) { (spark, dir) =>
      val e = Tables(spark, dir).events
        .select(col("user_id"), to_date(col("ts")).as("d"))
      val anchor = e.agg(min("d").as("a0"))
      def active(off: Int) =
        max(when(col("d") === date_add(col("a0"), off), 1L).otherwise(0L))
      val g = e.crossJoin(broadcast(anchor))
        .groupBy("user_id")
        .agg(active(0).as("c0"), active(1).as("c1"),
          active(3).as("c3"), active(7).as("c7"))
      g.select(col("user_id"), col("c0").as("r0"),
          (col("c0") * col("c1")).as("r1"),
          (col("c0") * col("c3")).as("r3"),
          (col("c0") * col("c7")).as("r7"))
        .orderBy("user_id")
    },

    // ----- q51: sequenceCount('(?1).*(?2)') — ClickHouse's parametric
    // sequence aggregate counting NON-OVERLAPPING view→purchase occurrences
    // per user in timestamp order (after a match completes, the search
    // restarts fresh — ClickHouse's documented non-overlap rule). Same
    // machinery as q49: one user shuffle, per-user greedy left fold over the
    // time-sorted events with a 2-slot state [armed, count] — on a view the
    // fold arms, on a purchase an armed fold counts and disarms. The fold is
    // linear in the user's events with constant state; the oracle replays
    // the identical fold via list_reduce, so per-user counts are hash-exact.
    QueryDef.sql(
      "q51_sequence_count",
      """WITH f AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    CASE event_type WHEN 'view' THEN 1 ELSE 2 END AS step
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |g AS (
        |  SELECT user_id, COUNT(*) AS n_events,
        |    list([ts_us, step] ORDER BY ts_us, event_id) AS evs
        |  FROM f GROUP BY 1),
        |r AS (
        |  SELECT user_id, n_events,
        |    list_reduce(list_prepend([CAST(0 AS BIGINT), 0], evs), (acc, x) -> [
        |      CASE WHEN x[2] = 1 THEN 1 WHEN acc[1] = 1 THEN 0 ELSE acc[1] END,
        |      CASE WHEN x[2] = 2 AND acc[1] = 1 THEN acc[2] + 1 ELSE acc[2] END
        |    ]) AS st
        |  FROM g)
        |SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
        |  CAST(st[2] AS BIGINT) AS matches,
        |  st[2] > 0 AS matched
        |FROM r ORDER BY user_id""".stripMargin,
    ) { (spark, dir) =>
      val e = Tables(spark, dir).events
        .filter(col("event_type").isin("view", "purchase"))
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"),
          when(col("event_type") === "view", 1L).otherwise(2L).as("step"))
      sequenceCounts(e).orderBy("user_id")
    },

    // ----- q52: exponentialMovingAverage — ClickHouse's EMA aggregate as a
    // per-user recurrence ema_i = α·v_i + (1−α)·ema_{i−1} over the
    // time-sorted event values, α = 1/4 (exact in binary, so the fold is a
    // fixed-shape IEEE expression both engines replay bit-identically —
    // the q49/q51 fold family, with a [seen, ema] 2-slot state; the first
    // value seeds the chain). One user shuffle, constant state, linear
    // fold; the oracle replays the identical fold via list_reduce.
    QueryDef.sql(
      "q52_ema",
      """WITH f AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value
        |  FROM events WHERE event_type = 'purchase'),
        |g AS (
        |  SELECT user_id, COUNT(*) AS n_events,
        |    list([value, CAST(0 AS DOUBLE)] ORDER BY ts_us, event_id) AS evs
        |  FROM f GROUP BY 1),
        |r AS (
        |  SELECT user_id, n_events,
        |    list_reduce(list_prepend([CAST(0 AS DOUBLE), 0], evs), (acc, x) -> [
        |      CAST(1 AS DOUBLE),
        |      CASE WHEN acc[1] = 0 THEN x[1] ELSE 0.25 * x[1] + 0.75 * acc[2] END
        |    ]) AS st
        |  FROM g)
        |SELECT user_id, CAST(n_events AS BIGINT) AS n_events, st[2] AS ema
        |FROM r ORDER BY user_id""".stripMargin,
    ) { (spark, dir) =>
      val e = Tables(spark, dir).events
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
      e.groupBy("user_id")
        .agg(count(lit(1)).cast("long").as("n_events"),
          array_sort(collect_list(struct(col("ts_us"), col("event_id"), col("value"))))
            .as("evs"))
        .select(col("user_id"), col("n_events"),
          expr("""aggregate(evs, array(0D, 0D), (acc, x) -> array(
            1D,
            CASE WHEN acc[0] = 0D THEN x.value ELSE 0.25D * x.value + 0.75D * acc[1] END))""")
            .as("st"))
        .select(col("user_id"), col("n_events"), col("st")(1).as("ema"))
        .orderBy("user_id")
    },

    // ----- q53: sequenceMatch with a time constraint —
    // ClickHouse's '(?1)(?t<=3600)(?2)' family: a view→purchase match now
    // also requires the purchase within 1 h of its arming view. Exact
    // semantics implemented (and documented by WindowFunnelSpec's planted
    // cases): the fold keeps the LATEST view timestamp (the dominance
    // argument from q49 — of two candidate arming views, the later one is
    // within-window whenever the earlier is); a purchase with
    // ts − armed ≤ 1 h counts and CONSUMES the arm (q51's non-overlap
    // rule); an out-of-window purchase leaves the arm in place (it can
    // never match later — kept for fold simplicity, semantically inert
    // since any later purchase is further away; a newer view re-arms).
    // Same machinery: one user shuffle, 2-slot state, linear fold, oracle
    // replays via list_reduce.
    QueryDef.sql(
      "q53_sequence_match_timed",
      """WITH f AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    CASE event_type WHEN 'view' THEN 1 ELSE 2 END AS step
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |g AS (
        |  SELECT user_id, COUNT(*) AS n_events,
        |    list([ts_us, step] ORDER BY ts_us, event_id) AS evs
        |  FROM f GROUP BY 1),
        |r AS (
        |  SELECT user_id, n_events,
        |    list_reduce(list_prepend([CAST(-1 AS BIGINT), 0], evs), (acc, x) -> [
        |      CASE WHEN x[2] = 1 THEN x[1]
        |           WHEN x[2] = 2 AND acc[1] >= 0 AND x[1] - acc[1] <= 3600000000 THEN -1
        |           ELSE acc[1] END,
        |      CASE WHEN x[2] = 2 AND acc[1] >= 0 AND x[1] - acc[1] <= 3600000000
        |           THEN acc[2] + 1 ELSE acc[2] END
        |    ]) AS st
        |  FROM g)
        |SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
        |  CAST(st[2] AS BIGINT) AS matches_timed,
        |  st[2] > 0 AS matched
        |FROM r ORDER BY user_id""".stripMargin,
    ) { (spark, dir) =>
      val e = Tables(spark, dir).events
        .filter(col("event_type").isin("view", "purchase"))
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"),
          when(col("event_type") === "view", 1L).otherwise(2L).as("step"))
      sequenceMatchTimed(e, 3600000000L).orderBy("user_id")
    },

    // ----- q54: ORDER BY … WITH FILL + INTERPOLATE — ClickHouse's
    // gap-filling ORDER BY modifier with carry-forward interpolation
    // (INTERPOLATE's default carries the previous row's value): the daily
    // per-region revenue series over January 1996 (TPC-H order dates are
    // sparse — every region has gap days at every SF), each missing day
    // materialized from the spine and filled with the last seen revenue
    // (0 before the first sale), flagged `filled`. Beyond q14's zero-fill:
    // the fill VALUE is stateful. The carry window runs over the SPINE
    // (5 regions × 31 days — metadata-scale, never the fact table); revenue
    // aggregates through DECIMAL(18,2) and the carry happens in DECIMAL, so
    // the filled values are bit-exact.
    QueryDef.sql(
      "q54_with_fill",
      s"""WITH spine AS (
         |  SELECT r_name, d::DATE AS d
         |  FROM region, UNNEST(generate_series(DATE '1996-01-01', DATE '1996-01-31', INTERVAL 1 DAY)) s(d)),
         |actual AS (
         |  SELECT r.r_name, CAST(o.o_orderdate AS DATE) AS d,
         |    SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev
         |  FROM orders o
         |  JOIN customer c ON o.o_custkey = c.c_custkey
         |  JOIN nation n ON c.c_nationkey = n.n_nationkey
         |  JOIN region r ON n.n_regionkey = r.r_regionkey
         |  WHERE o.o_orderdate >= DATE '1996-01-01' AND o.o_orderdate < DATE '1996-02-01'
         |  GROUP BY 1, 2)
         |SELECT s.r_name AS region, s.d,
         |  CAST(COALESCE(last_value(a.rev IGNORE NULLS) OVER (
         |    PARTITION BY s.r_name ORDER BY s.d
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS DOUBLE) AS revenue,
         |  a.rev IS NULL AS filled
         |FROM spine s LEFT JOIN actual a ON a.r_name = s.r_name AND a.d = s.d
         |ORDER BY region, s.d""".stripMargin,
    ) { (spark, dir) =>
      val t = Tables(spark, dir)
      val spine = broadcast(t.region.select(col("r_name")))
        .crossJoin(spark.range(31).select(
          date_add(lit(java.sql.Date.valueOf("1996-01-01")), col("id").cast("int")).as("d")))
      val actual = t.orders
        .filter(col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1996-02-01")
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), to_date(col("o_orderdate")).as("d"))
        .agg(sum(dec(col("o_totalprice"))).as("rev"))
      val w = Window.partitionBy("r_name").orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(actual, Seq("r_name", "d"), "left")
        .select(col("r_name").as("region"), col("d"),
          coalesce(last(col("rev"), ignoreNulls = true).over(w),
            lit(0).cast("decimal(18,2)")).cast("double").as("revenue"),
          col("rev").isNull.as("filled"))
        .orderBy("region", "d")
    },

    // ----- q55: maxIntersections / maxIntersectionsPosition — ClickHouse's
    // interval-overlap aggregate (peak concurrency): over per-(user, day)
    // activity spans [first event, last event), the maximum number of spans
    // open at once and the instant the peak is first reached. Sweep-line,
    // collapsed to per-timestamp net deltas FIRST (ends apply before starts
    // at the same instant — half-open spans — so the peak at t is exactly
    // the cumulative net through t; collapsing removes any dependence on
    // intra-timestamp orderings and makes the prefix sum well-defined on
    // ties). The global prefix sum is DistributedRank.withRunningTotal —
    // range-partitioned offsets, no single-partition window — so the plan
    // holds at 100 TB where a naive `SUM OVER (ORDER BY ts)` serializes
    // onto one reducer. Peak instant: min ts among rows carrying the max.
    QueryDef.sql(
      "q55_peak_concurrency",
      """WITH iv AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, MIN(ts) AS s, MAX(ts) AS e
        |  FROM events GROUP BY 1, 2 HAVING MIN(ts) < MAX(ts)),
        |pts AS (
        |  SELECT s AS ts, 1 AS delta FROM iv
        |  UNION ALL SELECT e AS ts, -1 AS delta FROM iv),
        |net AS (SELECT ts, CAST(SUM(delta) AS BIGINT) AS net FROM pts GROUP BY 1),
        |run AS (SELECT ts, SUM(net) OVER (ORDER BY ts ROWS UNBOUNDED PRECEDING) AS conc FROM net),
        |mx AS (SELECT MAX(conc) AS mxc FROM run)
        |SELECT CAST(mx.mxc AS BIGINT) AS max_concurrency, MIN(run.ts) AS at_ts
        |FROM run, mx WHERE run.conc = mx.mxc
        |GROUP BY 1""".stripMargin,
    ) { (spark, dir) =>
      val ev = Tables(spark, dir).events
      val iv = ev.groupBy(col("user_id"), to_date(col("ts")).as("d"))
        .agg(min(col("ts")).as("s"), max(col("ts")).as("e"))
      peakFromSpans(iv)
    },

    // ----- q56: intervalLengthSum — ClickHouse's merged-span length
    // aggregate, the q55 sibling (r11 verdict item 7; reference anchor: the
    // session-duration family, sample_queries.sql:414–438). Each event opens
    // a 5-minute activity span [ts, ts+300s); per (user, day) the overlapping
    // spans are MERGED and the total covered time emitted — the "how long was
    // the user actually active" metric a naive SUM(duration) double-counts.
    // Same sweep algebra as q55: collapse endpoints to per-instant net
    // deltas, prefix-sum to a concurrency curve, and sum segment lengths
    // where the curve is positive (half-open spans: touching intervals fuse,
    // which only re-segments — the union length is invariant). Unlike q55's
    // GLOBAL sweep (which needs DistributedRank), the sweep here is PER KEY:
    // a window partitioned by (user_id, d) shuffles once on the group key and
    // sorts only within groups — group size is events-per-user-day, so the
    // plan holds at 100 TB with no single-partition exchange. Arithmetic is
    // exact BIGINT micros on both engines (epoch_us / unix_micros).
    QueryDef.sql(
      "q56_interval_length_sum",
      """WITH sp AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d,
        |    epoch_us(ts) AS s, epoch_us(ts) + 300000000 AS e
        |  FROM events),
        |pts AS (
        |  SELECT user_id, d, s AS ts, 1 AS delta FROM sp
        |  UNION ALL SELECT user_id, d, e AS ts, -1 AS delta FROM sp),
        |net AS (SELECT user_id, d, ts, CAST(SUM(delta) AS BIGINT) AS net
        |  FROM pts GROUP BY 1, 2, 3),
        |run AS (SELECT user_id, d, ts, net,
        |    SUM(net) OVER (PARTITION BY user_id, d ORDER BY ts
        |                   ROWS UNBOUNDED PRECEDING) AS conc,
        |    LEAD(ts) OVER (PARTITION BY user_id, d ORDER BY ts) AS nxt
        |  FROM net),
        |seg AS (SELECT user_id, d, conc, nxt, ts,
        |    CASE WHEN conc > 0 AND COALESCE(LAG(conc) OVER (
        |           PARTITION BY user_id, d ORDER BY ts), 0) = 0
        |         THEN 1 ELSE 0 END AS opened
        |  FROM run)
        |SELECT user_id, d,
        |  CAST(SUM(CASE WHEN conc > 0 THEN nxt - ts ELSE 0 END) AS BIGINT) AS covered_us,
        |  CAST(SUM(opened) AS BIGINT) AS n_merged
        |FROM seg GROUP BY 1, 2
        |ORDER BY user_id, d""".stripMargin,
    ) { (spark, dir) =>
      val ev = Tables(spark, dir).events
      val sp = ev.select(col("user_id"), to_date(col("ts")).as("d"),
        unix_micros(col("ts")).as("s"))
        .withColumn("e", col("s") + 300000000L)
      val pts = sp.select(col("user_id"), col("d"), col("s").as("ts"), lit(1L).as("delta"))
        .unionAll(sp.select(col("user_id"), col("d"), col("e").as("ts"), lit(-1L).as("delta")))
      val net = pts.groupBy("user_id", "d", "ts").agg(sum(col("delta")).as("net"))
      val w = Window.partitionBy("user_id", "d").orderBy("ts")
      val wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      net
        .withColumn("conc", sum(col("net")).over(wcum))
        .withColumn("nxt", lead(col("ts"), 1).over(w))
        .withColumn("opened",
          when(col("conc") > 0 && coalesce(lag(col("conc"), 1).over(w), lit(0L)) === 0, 1L)
            .otherwise(0L))
        .groupBy("user_id", "d")
        .agg(sum(when(col("conc") > 0, col("nxt") - col("ts")).otherwise(0L))
          .cast("long").as("covered_us"),
          sum(col("opened")).cast("long").as("n_merged"))
        .orderBy("user_id", "d")
    },
  )

  /** q55/st19's sweep over a frame of `(s, e)` span endpoints: half-open
    * semantics (an end at instant t applies before a start at t — zero-length
    * spans dropped), per-timestamp net-delta collapse, then the
    * [[DistributedRank.withRunningTotal]] global prefix sum (no
    * single-partition window). Returns one row
    * `(max_concurrency BIGINT, at_ts)` — the peak span overlap and the first
    * instant it is reached.
    */
  private[graft] def peakFromSpans(spans: DataFrame): DataFrame = {
    // snapping iv here was MEASURED A SLOWDOWN (q55
    // 0.68→0.98 s, st19 1.21→1.48 s at sf0.1) — the endpoint union's double
    // read of the span source is map-side-cheap while the eager snap pays a
    // serialize+store of every span row plus a job. Left as lineage.
    val iv = spans.filter(col("s") < col("e"))
    val pts = iv.select(col("s").as("ts"), lit(1L).as("delta"))
      .unionAll(iv.select(col("e").as("ts"), lit(-1L).as("delta")))
    val net = pts.groupBy("ts").agg(sum(col("delta")).as("net"))
    // two consumers (the max agg and the filter probe) — snapped so the
    // prefix-sum window evaluates ONCE over the ranged blocks
    val run = Residency.snap(DistributedRank.withRunningTotal(net, "conc", "net", col("ts")))
    run.join(broadcast(run.agg(max(col("conc")).as("mxc"))), col("conc") === col("mxc"))
      .groupBy(col("mxc").cast("long").as("max_concurrency"))
      .agg(min(col("ts")).as("at_ts"))
  }

  /** q53's per-user timed non-overlapping view→purchase match count over a
    * `(user_id, event_id, ts_us, step)` frame. Fold state:
    * [latest armed view ts (−1 when none), count].
    */
  def sequenceMatchTimed(events: DataFrame, windowUs: Long): DataFrame =
    events.groupBy("user_id")
      .agg(count(lit(1)).cast("long").as("n_events"),
        array_sort(collect_list(struct(col("ts_us"), col("event_id"), col("step"))))
          .as("evs"))
      .select(col("user_id"), col("n_events"),
        expr(s"""aggregate(evs, array(-1L, 0L), (acc, x) -> array(
          CASE WHEN x.step = 1 THEN x.ts_us
               WHEN x.step = 2 AND acc[0] >= 0L AND x.ts_us - acc[0] <= ${windowUs}L THEN -1L
               ELSE acc[0] END,
          CASE WHEN x.step = 2 AND acc[0] >= 0L AND x.ts_us - acc[0] <= ${windowUs}L
               THEN acc[1] + 1L ELSE acc[1] END))""")
          .as("st"))
      .select(col("user_id"), col("n_events"),
        col("st")(1).as("matches_timed"), (col("st")(1) > 0L).as("matched"))

  /** q51's per-user non-overlapping view→purchase match count over a
    * `(user_id, event_id, ts_us, step)` frame (shared with
    * WindowFunnelSpec's planted sequences). Fold state: [armed, count] —
    * step 1 arms, step 2 on an armed state counts and disarms.
    */
  def sequenceCounts(events: DataFrame): DataFrame =
    events.groupBy("user_id")
      .agg(count(lit(1)).cast("long").as("n_events"),
        array_sort(collect_list(struct(col("ts_us"), col("event_id"), col("step"))))
          .as("evs"))
      .select(col("user_id"), col("n_events"),
        expr("""aggregate(evs, array(0L, 0L), (acc, x) -> array(
          CASE WHEN x.step = 1 THEN 1L WHEN acc[0] = 1L THEN 0L ELSE acc[0] END,
          CASE WHEN x.step = 2 AND acc[0] = 1L THEN acc[1] + 1L ELSE acc[1] END))""")
          .as("st"))
      .select(col("user_id"), col("n_events"),
        col("st")(1).as("matches"), (col("st")(1) > 0L).as("matched"))

  /** q49's per-user funnel fold over a `(user_id, event_id, ts_us, step)`
    * frame (shared with WindowFunnelSpec's planted sequences). Slot s of the
    * fold state holds the latest chain-start time among chains reaching
    * level s, −1 when none.
    */
  def windowFunnelLevels(events: DataFrame, windowUs: Long): DataFrame =
    events.groupBy("user_id")
      .agg(count(lit(1)).cast("long").as("n_events"),
        array_sort(collect_list(struct(col("ts_us"), col("event_id"), col("step"))))
          .as("evs"))
      .select(col("user_id"), col("n_events"),
        expr(s"""aggregate(evs, array(-1L, -1L, -1L), (acc, x) -> array(
          CASE WHEN x.step = 1 THEN greatest(acc[0], x.ts_us) ELSE acc[0] END,
          CASE WHEN x.step = 2 AND acc[0] >= 0 AND x.ts_us - acc[0] <= ${windowUs}L THEN greatest(acc[1], acc[0]) ELSE acc[1] END,
          CASE WHEN x.step = 3 AND acc[1] >= 0 AND x.ts_us - acc[1] <= ${windowUs}L THEN greatest(acc[2], acc[1]) ELSE acc[2] END))""")
          .as("st"))
      .select(col("user_id"), col("n_events"),
        when(col("st")(2) >= 0, 3L)
          .when(col("st")(1) >= 0, 2L)
          .when(col("st")(0) >= 0, 1L)
          .otherwise(0L).as("funnel_level"))
}
