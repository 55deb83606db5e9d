package graft.streaming

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class MvCascadeSpec extends SparkSpec {

  private def assertSameRows(streamed: DataFrame, batch: DataFrame, mvName: String): Unit = {
    val s = streamed.collect().map(_.toSeq).toSet
    val b = batch.collect().map(_.toSeq).toSet
    assert(s.nonEmpty, s"$mvName produced no rows")
    assert(s == b,
      s"$mvName diverges from batch: only-streamed=${(s -- b).take(3)} only-batch=${(b -- s).take(3)}")
  }

  test("every concurrently-running MV equals its batch recomputation") {
    val dir = sf()
    val events = Tables(spark, dir).events
    val valDec = col("value").cast("decimal(18,2)")

    assertSameRows(
      MvCascade.mv(spark, dir, "mv_daily_activity")
        .select(col("event_date"), col("user_id"), col("total_events"),
          col("val_dec").cast("double")),
      events.groupBy(to_date(col("ts")).as("event_date"), col("user_id"))
        .agg(count(lit(1)).as("total_events"), sum(valDec).cast("double").as("v")),
      "mv_daily_activity")

    assertSameRows(
      MvCascade.mv(spark, dir, "mv_user_funnel")
        .select(col("user_id"), col("event_date"), col("total_events"),
          col("views"), col("clicks"), col("purchases")),
      events.groupBy(col("user_id"), to_date(col("ts")).as("event_date"))
        .agg(count(lit(1)).as("total_events"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("views"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("clicks"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("purchases")),
      "mv_user_funnel")

    assertSameRows(
      MvCascade.mv(spark, dir, "mv_country_stats")
        .select(col("country"), col("event_date"), col("event_type"), col("event_count")),
      events.join(
          Tables(spark, dir).customer
            .join(Tables(spark, dir).nation, col("c_nationkey") === col("n_nationkey"))
            .select(col("c_custkey").as("user_id"), col("n_name").as("country")),
          "user_id")
        .groupBy(col("country"), to_date(col("ts")).as("event_date"), col("event_type"))
        .agg(count(lit(1)).as("event_count")),
      "mv_country_stats")

    assertSameRows(
      MvCascade.mv(spark, dir, "mv_product_revenue")
        .select(col("product_id"), col("status"), col("order_count")),
      Tables(spark, dir).lineitem
        .groupBy(col("l_partkey").as("product_id"), col("l_returnflag").as("status"))
        .agg(count(lit(1)).as("order_count")),
      "mv_product_revenue")
  }

  test("setup breakdown names all 8 MVs with positive wall/busy and >=1 batch") {
    MvCascade.run(spark, sf()) // memoized — reuses the first test's run if present
    val bd = MvCascade.setupBreakdown(sf()).toMap
    assert(bd.keySet == Set(
      "mv_daily_activity", "mv_hourly_events", "mv_user_funnel",
      "mv_country_stats", "mv_product_revenue", "mv_sessions",
      "mv_sessions_final", "mv_hll_daily_users"))
    bd.foreach { case (n, c) =>
      assert(c.wallSec > 0, s"$n wall not captured")
      assert(c.busySec > 0, s"$n busy not captured")
      assert(c.batches >= 1, s"$n batches not captured")
      // wall covers the query's whole life, busy only its triggers
      assert(c.wallSec >= c.busySec * 0.5, s"$n wall/busy inconsistent")
    }
    StreamingMVs.warm(spark, sf())
    val warmed = StreamingMVs.maintenanceBreakdown(sf()).toMap
    val expected = Set("st02_hourly_upsert", "st10_interval_join", "st11_dedup",
      "st14_ivf_routing", "st15_histogram", "st16_retention", "st17_decontam",
      "st18_neardup_probe", "st19_concurrency", "st21_url_dedup")
    assert(expected.subsetOf(warmed.keySet), s"missing: ${expected -- warmed.keySet}")
    expected.foreach(n => assert(warmed(n) > 0, s"$n wall not captured"))
  }

  test("re-running the cascade against its checkpoints changes nothing (exactly-once)") {
    val root = java.nio.file.Files.createTempDirectory("graft_cascade_replay_").toString
    MvCascade.executeAt(spark, sf(), root)
    def snapshot(): Map[String, Long] =
      Seq("mv_daily_activity", "mv_user_funnel", "mv_product_revenue", "mv_hll_daily_users")
        .map(n => n -> spark.read.parquet(s"$root/$n").count()).toMap
    val first = snapshot()
    assert(first.values.forall(_ > 0))
    // same root → same checkpoints → AvailableNow finds all offsets
    // committed; a correct exactly-once sink must not duplicate or grow
    MvCascade.executeAt(spark, sf(), root)
    assert(snapshot() == first, "cascade replay mutated the sinks")
  }

  test("ST7: the cascade's to_date-keyed shape folds even beyond-watermark rows (full ClickHouse parity)") {
    // Pins a subtle fact the round-4 docs had WRONG: withWatermark("ts","1d")
    // + groupBy(to_date(ts)) does NOT drop beyond-watermark rows. Event-time
    // metadata does not propagate through to_date(), so the aggregation has
    // no event-time key and Spark applies no late-row filter — every late
    // insert folds into its key group, exactly ClickHouse MV semantics.
    // (The flip side: the watermark also cannot evict this aggregation's
    // state — see the windowed twin below for the bounded-state shape.)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val agg = stream.toDF()
      .withWatermark("ts", "1 day")
      .groupBy(to_date(col("ts")).as("event_date"))
      .agg(count(lit(1)).as("events"))
    val q = agg.writeStream.outputMode("update")
      .format("memory").queryName("st7_fold").start()
    try {
      stream.addData(Ev(1, java.sql.Timestamp.valueOf("2024-01-10 10:00:00"), 1, "view", 1.0))
      q.processAllAvailable() // watermark now Jan 9 10:00 (max event time − 1 day)
      stream.addData(
        Ev(2, java.sql.Timestamp.valueOf("2024-01-09 12:00:00"), 1, "view", 1.0), // inside
        Ev(3, java.sql.Timestamp.valueOf("2024-01-05 00:00:00"), 1, "view", 1.0)) // beyond
      q.processAllAvailable()
      val emitted = spark.table("st7_fold").collect()
        .map(r => r.get(0).toString -> r.getLong(1)).toMap
      assert(emitted.get("2024-01-09").contains(1L), s"within-watermark row should fold, got $emitted")
      assert(emitted.get("2024-01-05").contains(1L),
        s"beyond-watermark row still folds on the to_date-keyed shape, got $emitted")
      val dropped = q.lastProgress.stateOperators.map(_.numRowsDroppedByWatermark).sum
      assert(dropped == 0, s"no watermark drops expected on the to_date-keyed shape, got $dropped")
    } finally q.stop()
  }

  test("ST7 divergence boundary: window-keyed aggregation DROPS beyond-watermark rows") {
    // The divergence from ClickHouse exists exactly when the aggregation key
    // is an event-time window: the watermark then both evicts state AND
    // filters rows whose window closed before it. A ClickHouse MV would fold
    // the 2024-01-05 insert; Spark's bounded-state shape drops it.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val agg = stream.toDF()
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("events"))
      .select(to_date(col("w.start")).as("event_date"), col("events"))
    val q = agg.writeStream.outputMode("update")
      .format("memory").queryName("st7_drop").start()
    try {
      stream.addData(Ev(1, java.sql.Timestamp.valueOf("2024-01-10 10:00:00"), 1, "view", 1.0))
      q.processAllAvailable() // watermark now Jan 9 10:00
      stream.addData(
        Ev(2, java.sql.Timestamp.valueOf("2024-01-09 12:00:00"), 1, "view", 1.0), // window end Jan 10 > wm
        Ev(3, java.sql.Timestamp.valueOf("2024-01-05 00:00:00"), 1, "view", 1.0)) // window end Jan 6 < wm
      q.processAllAvailable()
      val emitted = spark.table("st7_drop").collect()
        .map(r => r.get(0).toString -> r.getLong(1)).toMap
      assert(emitted.get("2024-01-09").contains(1L), s"open-window late row should fold, got $emitted")
      assert(!emitted.contains("2024-01-05"),
        s"closed-window row should be dropped (the documented ClickHouse divergence), got $emitted")
      val dropped = q.lastProgress.stateOperators.map(_.numRowsDroppedByWatermark).sum
      assert(dropped == 1, s"expected exactly the closed-window row dropped, got $dropped")
    } finally q.stop()
  }

  test("st12: finalized append parts ∪ open tail == complete-mode snapshot") {
    // The two session sinks must tile the session space exactly: the append
    // MV holds every session the watermark (max ts − 1 day) closed, the
    // snapshot holds all sessions — so snapshot minus finalized must be
    // exactly the open tail (end > watermark), and the two sets must be
    // disjoint-by-construction on (user_id, session_start).
    val dir = sf()
    val maxTs = Tables(spark, dir).events.agg(max(col("ts"))).collect()(0).getTimestamp(0)
    val watermark = new java.sql.Timestamp(maxTs.getTime - 24L * 3600 * 1000)
    def rows(df: DataFrame) = df
      .select(col("user_id"), col("session_start"), col("session_end"), col("session_events"))
      .collect().map(_.toSeq).toSet
    val finalized = rows(MvCascade.mv(spark, dir, "mv_sessions_final"))
    val snapshot = rows(MvCascade.mv(spark, dir, "mv_sessions"))
    assert(finalized.nonEmpty, "append MV emitted nothing — no-data flush batch missing?")
    assert(finalized.subsetOf(snapshot), "append MV has sessions the snapshot lacks")
    val tail = snapshot -- finalized
    assert(tail.nonEmpty, "no open tail — watermark cut is not doing anything at this sf")
    // every finalized session closed at/before the watermark; every tail
    // session is still open (emit boundary is inclusive: end <= watermark)
    finalized.foreach { r =>
      val end = r(2).asInstanceOf[java.sql.Timestamp]
      assert(!end.after(watermark), s"finalized session ends after watermark: $r")
    }
    tail.foreach { r =>
      val end = r(2).asInstanceOf[java.sql.Timestamp]
      assert(end.after(watermark), s"open-tail session already closed: $r")
    }
  }

  test("st12 sink: per-batch append volume tracks newly-finalized sessions, not history") {
    // The MemoryStream twin of appendFinalized: three micro-batches, each
    // advancing the watermark past some sessions. The scale property under
    // test: a session lands in EXACTLY ONE part (append emits it once, in
    // the batch that finalizes it) — so per-batch write volume is the
    // newly-finalized count, never a re-dump of history (the complete-mode
    // snapshot's cost profile).
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_st12_twin_").toString
    val stream = MemoryStream[Ev]
    val agg = stream.toDF()
      .withWatermark("ts", "0 seconds")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("session_events"))
      .select(to_date(col("session_window.start")).as("session_date"),
        col("user_id"), col("session_window.start").as("session_start"),
        col("session_events"))
    val parts = scala.collection.mutable.Map[Long, Long]()
    val q = agg.writeStream.outputMode("append")
      .option("checkpointLocation", s"$root/_ckpt")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val n = batch.count()
        if (n > 0) parts(batchId) = n
        batch.write.mode("overwrite").parquet(s"$root/mv/part=$batchId")
      }
      .start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      // phase 1: 3 users' sessions on Jan 10
      stream.addData((1L to 3L).map(u =>
        Ev(u, ts("2024-01-10 10:00:00"), u, "view", 1.0)): _*)
      q.processAllAvailable()
      // phase 2: watermark jumps to Jan 11 → the 3 sessions finalize; 1 new open session
      stream.addData(Ev(10, ts("2024-01-11 09:00:00"), 10, "view", 1.0))
      q.processAllAvailable()
      // phase 3: watermark jumps again → user 10's session finalizes
      stream.addData(Ev(11, ts("2024-01-12 09:00:00"), 11, "view", 1.0))
      q.processAllAvailable()
      val emitted = spark.read.parquet(s"$root/mv").drop("part")
        .select("user_id", "session_start").collect().map(_.toSeq)
      // exactly-once per session: 4 finalized sessions (users 1,2,3,10), no dupes
      assert(emitted.length == 4 && emitted.distinct.length == 4,
        s"sessions must land in exactly one part each, got ${emitted.toSeq}")
      // no single batch re-dumped history: largest part is the phase-2 flush (3)
      assert(parts.values.max == 3 && parts.values.sum == 4,
        s"per-batch volume should be newly-finalized counts (3 then 1), got $parts")
    } finally q.stop()
  }

  test("HLL-state parts merge to the exact distinct within sketch error") {
    val rows = graft.Catalog.byName("st09_streaming_hll_state").build(spark, sf()).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Long]("sketch_ok") == 1L,
      s"${r.getString(0)}: merged sketch estimate outside 5% of exact"))
  }
}
