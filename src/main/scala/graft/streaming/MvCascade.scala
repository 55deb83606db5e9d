package graft.streaming

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** The reference's concurrent MV fan-out (init-scripts/01-create-tables.sql:
  * 87–168): one insert stream feeds six materialized views simultaneously —
  * daily_user_activity, mv_hourly_events, mv_user_funnel, mv_country_stats
  * (all over events) and mv_product_revenue (over the order stream).
  *
  * Spark-first re-expression: one `readStream` source definition fans out to
  * N independent streaming queries (Spark schedules them concurrently on the
  * shared cluster; each maintains its own state store and sink), all via the
  * foreachBatch partition-upsert sink (StreamingMVs.upsertByPartition). The
  * country MV adds a broadcast stream-static dimension join — the "eliminate
  * JOINs at query time" property the reference gets from denormalized MV
  * columns (events has no country column; customer→nation supplies it).
  *
  * The cascade runs ONCE per data dir (memoized by [[StreamRunner]]): the
  * catalog entries st04–st08 read back one MV each, and every one is
  * hash-checked against its batch SQL — incremental-equals-batch, per MV,
  * while all MVs ran concurrently off the same source.
  *
  * st09 is the AggregatingMergeTree analog (01:119–132 `uniqState`): each
  * micro-batch appends a "part" (dir keyed by batchId — idempotent under
  * checkpoint replay: a replayed batch overwrites its own part, never
  * double-counts) holding partial HLL sketch binaries; the read path merges
  * parts with `hll_union_agg` + sums — ClickHouse merge-on-read, exactly.
  */
object MvCascade {

  /** The cascade's eight queries, one per MV. */
  val members: Seq[String] = Seq(
    "mv_daily_activity", "mv_hourly_events", "mv_user_funnel", "mv_country_stats",
    "mv_product_revenue", "mv_sessions", "mv_sessions_final", "mv_hll_daily_users")

  /** Per-MV setup cost of the last cascade run over `dir`, from the stream
    * runner: it localizes WHICH of the concurrent members drives the
    * aggregate setup time (wall overlaps across members; busy is additive).
    */
  def setupBreakdown(dir: String): Seq[(String, StreamRunner.Cost)] =
    StreamRunner.costs(dir, members)

  /** Run the cascade once per data dir; returns its root. */
  def run(spark: SparkSession, dir: String): String =
    StreamRunner.maintainedRoot(dir, "cascade")(executeAt(spark, dir, _))

  /** Run the cascade against an explicit root (checkpoints live under it):
    * re-running with the same root is the checkpoint-recovery path — every
    * query's AvailableNow trigger finds its source offsets already committed
    * and changes nothing (MvCascadeSpec asserts this exactly-once property).
    */
  private[streaming] def executeAt(spark: SparkSession, dir: String, root: String): Unit = {
    // fingerprint the base tables BEFORE any stream reads them: if a base
    // overwrite lands mid-cascade, register() sees the mismatch and declines
    val preFingerprints = graft.plans.MvRouting.fingerprintNow(dir)
    // all eight run concurrently off the same source
    StreamRunner.run(spark, dir)(queries(_, dir, root))
    // MVs complete for `dir` → eligible for transparent aggregate routing
    graft.plans.MvRouting.register(dir, root, preFingerprints)
  }

  private def queries(spark: SparkSession, dir: String, root: String)
      : Seq[(String, DataStreamWriter[Row])] = {
    val events = StreamingMVs.eventsStream(spark, dir)
      // ST7: event-time metadata does NOT propagate through to_date(), so
      // this watermark neither drops late rows nor evicts these aggregations'
      // state — late inserts fold into their key group unconditionally,
      // which is exact ClickHouse MV parity (MvCascadeSpec pins both this and
      // the window-keyed shape where Spark does drop). State is bounded by
      // the MV grain's key cardinality, not the watermark; a window()-keyed
      // variant is the trade to make when eviction matters more than parity.
      .withWatermark("ts", "1 day")
    val valDec = col("value").cast("decimal(18,2)")

    // static dimension: user country via customer→nation (user_id ⊂ c_custkey)
    val t = Tables(spark, dir)
    val userCountry = broadcast(
      t.customer.join(t.nation, col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey").as("user_id"), col("n_name").as("country")))

    val daily = events
      .groupBy(to_date(col("ts")).as("event_date"), col("user_id"))
      .agg(count(lit(1)).as("total_events"), sum(valDec).as("val_dec"))

    val hourly = events
      .groupBy(to_date(col("ts")).as("event_date"),
        hour(col("ts")).cast("long").as("event_hour"), col("event_type"))
      .agg(count(lit(1)).as("event_count"), sum(valDec).as("val_dec"))

    val funnel = events
      .groupBy(col("user_id"), to_date(col("ts")).as("event_date"))
      .agg(count(lit(1)).as("total_events"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("views"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("clicks"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("purchases"),
        sum(valDec).as("val_dec"))

    val country = events.join(userCountry, "user_id")
      .groupBy(col("country"), to_date(col("ts")).as("event_date"), col("event_type"))
      .agg(count(lit(1)).as("event_count"), sum(valDec).as("val_dec"))

    val product = StreamingMVs.tableStream(spark, dir, "lineitem")
      .groupBy(col("l_partkey").as("product_id"), col("l_returnflag").as("status"))
      .agg(count(lit(1)).as("order_count"),
        // decimal × decimal, not cast-of-double-product: price and (1-disc)
        // are clean 2-decimal values, so the decimal multiply is exact on
        // both engines — rounding a double product at .xx5 boundaries is not
        sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1) - col("l_discount")).cast("decimal(18,2)")).as("rev_dec"),
        sum(col("l_quantity").cast("decimal(18,2)")).as("qty_dec"))

    // HLL-state MV: per-batch partial sketches appended as parts (st09)
    val hllDaily = events
      .groupBy(to_date(col("ts")).as("event_date"), col("event_type"))
      .agg(hll_sketch_agg(col("user_id")).as("users_sketch"),
        count(lit(1)).as("events"))

    // Gap-session MV (pr08): one row per 30-minute-gap session, maintained by
    // Structured Streaming's native session_window state (the streaming shape
    // of st03's batch entry; the reference generator's 5-min session ids —
    // stream_data_realtime.py:137 — are this same gap construction). Stored
    // row-per-session so ANY downstream aggregate routes onto it (MvRouting's
    // session path); partitioned by the session's start date.
    val sessions = events
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("session_events"), sum(valDec).as("val_dec"))
      .select(
        to_date(col("session_window.start")).as("session_date"),
        col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("session_events"), col("val_dec"))

    // every member checkpoints under the root and writes its own sink
    def sink(mv: DataFrame, mode: String, name: String)(write: (DataFrame, Long) => Unit) =
      name -> mv.writeStream
        .outputMode(mode)
        .option("checkpointLocation", s"$root/_ckpt/$name")
        .foreachBatch(write)

    def upsert(mv: DataFrame, partitionCol: String, name: String) =
      sink(mv, "update", name) { (batch, batchId) =>
        StreamingMVs.upsertByPartition(batch, partitionCol, s"$root/$name", batchId)
      }

    // Session windows reject update mode (merging sessions can't be keyed
    // updates — STREAMING_OUTPUT_MODE.UNSUPPORTED_OPERATION), so the session
    // MV runs complete mode with a full-snapshot overwrite per batch:
    // Replacing-snapshot semantics (K3), still partitioned by session_date
    // for pruned routed reads. This sink serves the routed-read story and the
    // OPEN-session tail; the scale path — append of finalized sessions only,
    // per-batch write volume tracking batch session count instead of total
    // history — is its twin below (appendFinalized → mv_sessions_final,
    // proven equal to the batch gap construction by st12).
    def completeSnapshot(mv: DataFrame, partitionCol: String, name: String) =
      sink(mv, "complete", name) { (batch, _) =>
        batch.repartition(col(partitionCol)).write.mode("overwrite")
          .partitionBy(partitionCol).parquet(s"$root/$name")
      }

    // st12: the finalized-session APPEND path — the session MV's scale
    // story. Append mode is legal for session_window with a watermark: a
    // session is emitted exactly once, in the first batch whose watermark
    // (max event time − 1 day) has passed its end (emit condition is
    // session_end <= watermark, inclusive — pinned by MvCascadeSpec), and
    // Trigger.AvailableNow runs a trailing no-data batch so the final
    // watermark's newly-closed sessions flush before termination. Per-batch
    // write volume is therefore the batch's NEWLY-FINALIZED session count —
    // never total session history (the complete-mode snapshot above pays
    // that; it remains only to serve the open tail and routed reads).
    // Parts are batch-keyed (replay-idempotent: a recovered batch overwrites
    // its own part) and partitioned by session_date inside each part so
    // date-bounded reads still prune.
    def appendFinalized(mv: DataFrame, name: String) =
      sink(mv, "append", name) { (batch, batchId) =>
        batch.repartition(col("session_date")).write.mode("overwrite")
          .partitionBy("session_date").parquet(s"$root/$name/part=$batchId")
      }

    // one "part" per micro-batch, ClickHouse-style; replay-idempotent
    // because a batch always overwrites its own part dir
    def appendParts(mv: DataFrame, name: String) =
      sink(mv, "update", name) { (batch, batchId) =>
        batch.write.mode("overwrite").parquet(s"$root/$name/part=$batchId")
      }

    Seq(
      upsert(daily, "event_date", "mv_daily_activity"),
      upsert(hourly, "event_date", "mv_hourly_events"),
      upsert(funnel, "event_date", "mv_user_funnel"),
      upsert(country, "event_date", "mv_country_stats"),
      upsert(product, "status", "mv_product_revenue"),
      completeSnapshot(sessions, "session_date", "mv_sessions"),
      appendFinalized(sessions, "mv_sessions_final"),
      appendParts(hllDaily, "mv_hll_daily_users"))
  }

  /** Read one MV back from the cascade's sink. */
  def mv(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"${run(spark, dir)}/$name")

  val defs: Seq[QueryDef] = Seq(

    QueryDef.sql(
      "st04_cascade_daily_activity",
      """SELECT CAST(ts AS DATE) AS event_date, user_id, COUNT(*) AS total_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY event_date, user_id""".stripMargin,
    ) { (spark, dir) =>
      mv(spark, dir, "mv_daily_activity")
        .select(col("event_date"), col("user_id"), col("total_events"),
          col("val_dec").cast("double").as("total_value"))
        .orderBy("event_date", "user_id")
    },

    QueryDef.sql(
      "st05_cascade_hourly_events",
      """SELECT CAST(ts AS DATE) AS event_date, CAST(hour(ts) AS BIGINT) AS event_hour,
        |  event_type, COUNT(*) AS event_count,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value
        |FROM events GROUP BY 1, 2, 3 ORDER BY event_date, event_hour, event_type""".stripMargin,
    ) { (spark, dir) =>
      mv(spark, dir, "mv_hourly_events")
        .select(col("event_date"), col("event_hour"), col("event_type"), col("event_count"),
          col("val_dec").cast("double").as("total_value"),
          (col("val_dec").cast("double") / col("event_count")).as("avg_value"))
        .orderBy("event_date", "event_hour", "event_type")
    },

    QueryDef.sql(
      "st06_cascade_user_funnel",
      """SELECT user_id, CAST(ts AS DATE) AS event_date, COUNT(*) AS total_events,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS views,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY user_id, event_date""".stripMargin,
    ) { (spark, dir) =>
      mv(spark, dir, "mv_user_funnel")
        .select(col("user_id"), col("event_date"), col("total_events"),
          col("views"), col("clicks"), col("purchases"),
          col("val_dec").cast("double").as("total_value"))
        .orderBy("user_id", "event_date")
    },

    QueryDef.sql(
      "st07_cascade_country_stats",
      """SELECT n_name AS country, CAST(ts AS DATE) AS event_date, event_type,
        |  COUNT(*) AS event_count,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |JOIN customer ON user_id = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1, 2, 3 ORDER BY country, event_date, event_type""".stripMargin,
    ) { (spark, dir) =>
      mv(spark, dir, "mv_country_stats")
        .select(col("country"), col("event_date"), col("event_type"), col("event_count"),
          col("val_dec").cast("double").as("total_value"))
        .orderBy("country", "event_date", "event_type")
    },

    QueryDef.sql(
      "st08_cascade_product_revenue",
      """SELECT l_partkey AS product_id, l_returnflag AS status,
        |  COUNT(*) AS order_count,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_quantity,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE)
        |    / COUNT(*) AS avg_order_value
        |FROM lineitem GROUP BY 1, 2 ORDER BY product_id, status""".stripMargin,
    ) { (spark, dir) =>
      mv(spark, dir, "mv_product_revenue")
        .select(col("product_id"), col("status"), col("order_count"),
          col("rev_dec").cast("double").as("total_revenue"),
          col("qty_dec").cast("double").as("total_quantity"),
          (col("rev_dec").cast("double") / col("order_count")).as("avg_order_value"))
        .orderBy("product_id", "status")
    },

    // ----- st09: streaming HLL-state MV — persisted per-batch sketch parts,
    // merge-on-read with hll_union_agg (the uniqState/uniqMerge pattern).
    // Oracle checks the mergeable-count path exactly and the sketch estimate
    // via the in-plan 5% bound flag (uq01's strategy).
    QueryDef.sql(
      "st09_streaming_hll_state",
      """SELECT event_type, COUNT(*) AS total_events,
        |  COUNT(DISTINCT user_id) AS exact_users,
        |  CAST(1 AS BIGINT) AS sketch_ok
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    ) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val parts = mv(spark, dir, "mv_hll_daily_users")
      // Update mode emits each group's cumulative state per batch, so a later
      // part supersedes the same group's earlier part: merge-on-read keeps the
      // latest part per group (Replacing semantics per key), THEN unions
      // across groups. Window over MV rows — metadata scale, not event scale.
      val latest = parts
        .withColumn("rn", row_number().over(
          Window.partitionBy("event_date", "event_type").orderBy(desc("part"))))
        .filter(col("rn") === 1).drop("rn", "part")
      val merged = latest
        .groupBy("event_type")
        .agg(
          hll_sketch_estimate(hll_union_agg(col("users_sketch"))).as("sketch_users"),
          sum("events").cast("long").as("total_events"))
      val exact = Tables(spark, dir).events.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_users"))
      merged.join(exact, "event_type")
        .select(col("event_type"), col("total_events"), col("exact_users"),
          when(abs(col("sketch_users") - col("exact_users")) <=
            col("exact_users") * 0.05, 1L).otherwise(0L).as("sketch_ok"))
        .orderBy("event_type")
    },

    // ----- st12: the finalized-session APPEND MV (the session cascade's
    // scale path — see appendFinalized above). The MV holds exactly the
    // sessions the watermark closed: gap sessions whose end (last event
    // + 30 min) is <= max(ts) − 1 day. Oracle replays the batch gap
    // construction (st03's lag/cumsum idiom) and applies the same
    // finalization cut — a hash match proves append-mode streaming
    // sessionization == batch sessions on the finalized set, per session,
    // including bounds and value sums. The open tail (sessions ending
    // inside the watermark delay) lives only in the snapshot twin, which
    // MvCascadeSpec proves equals finalized ∪ tail.
    QueryDef.sql(
      "st12_finalized_session_append",
      """WITH x AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_sess
        |  FROM events),
        |y AS (
        |  SELECT user_id, ts, value,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS sess_no
        |  FROM x),
        |sess AS (
        |  SELECT user_id, MIN(ts) AS session_start,
        |    MAX(ts) + INTERVAL 30 MINUTE AS session_end,
        |    COUNT(*) AS session_events,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
        |  FROM y GROUP BY user_id, sess_no)
        |SELECT CAST(session_start AS DATE) AS session_date, user_id,
        |  CAST(session_start AS TIMESTAMP) AS session_start,
        |  CAST(session_end AS TIMESTAMP) AS session_end,
        |  session_events, session_value
        |FROM sess
        |WHERE session_end <= (SELECT MAX(ts) - INTERVAL 1 DAY FROM events)
        |ORDER BY user_id, session_start""".stripMargin,
    ) { (spark, dir) =>
      mv(spark, dir, "mv_sessions_final")
        .select(col("session_date"), col("user_id"), col("session_start"),
          col("session_end"), col("session_events"),
          col("val_dec").cast("double").as("session_value"))
        .orderBy("user_id", "session_start")
    },
  )
}
