package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.sql.Timestamp

case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

class StreamingSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  private val batch1 = Seq(
    Ev(1, ts("2024-01-01 10:00:00"), 1, "view", 10.0),
    Ev(2, ts("2024-01-01 10:05:00"), 1, "click", 5.0),
    Ev(3, ts("2024-01-01 11:00:00"), 2, "view", 7.0))
  private val batch2 = Seq(
    Ev(4, ts("2024-01-01 12:00:00"), 1, "purchase", 99.0),
    Ev(5, ts("2024-01-02 09:00:00"), 2, "view", 3.0),
    Ev(6, ts("2024-01-02 09:30:00"), 3, "view", 1.0))

  test("incremental streaming aggregation equals batch recomputation (MV property)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val agg = stream.toDF()
      .groupBy(to_date(col("ts")).as("event_date"), col("event_type"))
      .agg(count(lit(1)).as("events"), sum(col("value").cast("decimal(18,2)")).as("val"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("mv_test").start()
    try {
      stream.addData(batch1: _*)
      q.processAllAvailable()
      stream.addData(batch2: _*)
      q.processAllAvailable()
      val streamed = spark.table("mv_test")
        .select("event_date", "event_type", "events", "val")
        .collect().map(_.toSeq).toSet
      val batch = (batch1 ++ batch2).toDF()
        .groupBy(to_date(col("ts")).as("event_date"), col("event_type"))
        .agg(count(lit(1)).as("events"), sum(col("value").cast("decimal(18,2)")).as("val"))
        .collect().map(_.toSeq).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("foreachBatch partition upsert is idempotent under batch replay") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_upsert_test").toString + "/t"
    val b1 = batch1.toDF()
      .groupBy(to_date(col("ts")).as("event_date"), col("event_type"))
      .agg(count(lit(1)).as("events"))
    StreamingMVs.upsertByPartition(b1, "event_date", out)
    val once = spark.read.parquet(out).collect().map(_.toSeq).toSet
    // checkpoint replay: the same micro-batch applied again must not duplicate
    StreamingMVs.upsertByPartition(b1, "event_date", out)
    val twice = spark.read.parquet(out).collect().map(_.toSeq).toSet
    assert(once == twice)
  }

  test("upsert only overwrites partitions present in the batch") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_upsert_test2").toString + "/t"
    val day1 = Seq(("2024-01-01", "view", 3L)).toDF("event_date", "event_type", "events")
    val day2 = Seq(("2024-01-02", "view", 5L)).toDF("event_date", "event_type", "events")
    StreamingMVs.upsertByPartition(day1, "event_date", out)
    StreamingMVs.upsertByPartition(day2, "event_date", out)
    // day1 must survive the day2 batch
    assert(spark.read.parquet(out).count() == 2)
    val day2v2 = Seq(("2024-01-02", "view", 9L)).toDF("event_date", "event_type", "events")
    StreamingMVs.upsertByPartition(day2v2, "event_date", out)
    // partition column is type-inferred (Date) on read-back — compare as string
    val rows = spark.read.parquet(out).collect()
      .map(r => (String.valueOf(r.getAs[Any]("event_date")), r.getAs[Long]("events"))).toMap
    assert(rows == Map("2024-01-01" -> 3L, "2024-01-02" -> 9L))
  }

  test("checkpoint recovery: a restarted query reprocesses nothing (ST11)") {
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val sink = java.nio.file.Files.createTempDirectory("graft_ckpt_sink").toString + "/mv"
    def runOnce(): Unit = {
      val agg = StreamingMVs.dailyMvStream(spark, sf())
        .withColumnRenamed("val_dec", "v")
        .select(col("event_date"), col("event_type"), col("events"), col("v").cast("double").as("total"))
      val q = agg.writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          StreamingMVs.upsertByPartition(batch, "event_date", sink)
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    val first = spark.read.parquet(sink).collect().map(_.toSeq).toSet
    assert(first.nonEmpty)
    // same source, same checkpoint: nothing new to process, sink unchanged
    runOnce()
    val second = spark.read.parquet(sink).collect().map(_.toSeq).toSet
    assert(second == first)
  }

  test("stream-stream interval self-join with watermarks") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val v = views.toDF().select(col("user_id").as("v_user"), col("ts").as("v_ts"))
      .withWatermark("v_ts", "1 hour")
    val p = purchases.toDF().select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val joined = v.join(p,
      expr("v_user = p_user AND p_ts BETWEEN v_ts AND v_ts + INTERVAL 30 MINUTES"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssjoin_test").start()
    try {
      views.addData(Ev(1, ts("2024-01-01 10:00:00"), 1, "view", 0), Ev(2, ts("2024-01-01 10:00:00"), 2, "view", 0))
      purchases.addData(
        Ev(3, ts("2024-01-01 10:10:00"), 1, "purchase", 9), // within 30 min of user 1's view
        Ev(4, ts("2024-01-01 11:10:00"), 2, "purchase", 9)) // outside the interval
      q.processAllAvailable()
      val rows = spark.table("ssjoin_test").collect()
      assert(rows.length == 1, s"expected one attributed purchase, got ${rows.length}")
      assert(rows(0).getAs[Long]("v_user") == 1)
    } finally q.stop()
  }

  test("late rows fold into their group when no watermark is set (ST7 / ClickHouse parity)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val agg = stream.toDF()
      .groupBy(to_date(col("ts")).as("event_date"))
      .agg(count(lit(1)).as("events"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("late_test").start()
    try {
      stream.addData(Ev(1, ts("2024-01-05 10:00:00"), 1, "view", 1.0))
      q.processAllAvailable()
      // a row 4 days "late" relative to everything seen so far
      stream.addData(Ev(2, ts("2024-01-01 09:00:00"), 1, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("late_test")
        .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
      // ClickHouse MV semantics: the late insert still lands in its key group
      assert(rows == Map("2024-01-05" -> 1L, "2024-01-01" -> 1L))
    } finally q.stop()
  }

  test("file-source streaming MV over testdata matches batch (AvailableNow)") {
    val agg = StreamingMVs.dailyMvStream(spark, sf())
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("mv_file_test")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("mv_file_test").count()
    val batch = graft.Tables(spark, sf()).events
      .groupBy(to_date(col("ts")), col("event_type")).count().count()
    assert(streamed == batch && streamed > 0)
  }

  test("Residency.release between entries leaves memoized stream results intact (r7 item 7)") {
    // Residency.release now calls StateStore.stop() (unloads providers,
    // stops the maintenance pool) between timed entries, while the
    // heavyweight per-dir streams (st02 upsert sink, st10 interval join)
    // stay MEMOIZED for reuse — their catalog entries re-READ maintained
    // results without re-running the stream. This pins the interaction: a
    // release mid-sequence must not invalidate either memoized result, so
    // a future Spark upgrade that turns provider unload into state loss
    // fails here instead of as a silent wrong answer.
    val dir = sf()
    def readBoth(): (Seq[String], Seq[String]) = (
      graft.Catalog.byName("st02_streaming_upsert_sink").build(spark, dir)
        .collect().map(_.toString).toSeq,
      graft.Catalog.byName("st10_stream_stream_interval_join").build(spark, dir)
        .collect().map(_.toString).toSeq)
    val (st02First, st10First) = readBoth()
    assert(st02First.nonEmpty && st10First.nonEmpty)
    graft.Residency.release(spark)
    val (st02Again, st10Again) = readBoth()
    assert(st02Again == st02First, "st02 memoized sink changed across release")
    assert(st10Again == st10First, "st10 memoized join table changed across release")
    // and the release really did drop resident RDD state
    assert(graft.Residency.residentRddCount(spark) >= 0) // sanity: callable post-release
  }

  test("st13 streams from a private clone: the session's shuffle partitions never change") {
    import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
    import scala.jdk.CollectionConverters._
    val key = "spark.sql.shuffle.partitions"
    val own = spark.conf.get(key)
    val stateParts = graft.sources.Layout
      .statePartitionsFor(sf(), spark.sparkContext.defaultParallelism)
    assume(own != stateParts.toString, "the session and state counts coincide on this box")
    // every streaming progress event also reaches the context's listener bus
    val reported = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case p: QueryProgressEvent if p.progress.name == "st13_streaming_quality_gate" =>
            p.progress.stateOperators.foreach(o => reported.add(o.numShufflePartitions))
          case _ => ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    @volatile var building = true
    val reader = new Thread(() => while (building) seen.add(spark.conf.get(key)))
    reader.start()
    try graft.Catalog.byName("st13_streaming_quality_gate").build(spark, sf()).collect()
    finally { building = false; reader.join() }
    val deadline = System.currentTimeMillis() + 10000
    while (reported.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(20)
    spark.sparkContext.removeSparkListener(listener)
    assert(seen.asScala == Set(own), s"a concurrent reader saw ${seen.asScala}")
    assert(!reported.isEmpty && reported.asScala.forall(_ == stateParts),
      s"state operators ran on ${reported.asScala} partitions, expected $stateParts")
  }

  test("st13: gate partitions every event, discriminates, equals batch recompute") {
    import org.apache.spark.sql.functions._
    val r = graft.Catalog.byName("st13_streaming_quality_gate").build(spark, sf()).collect()
    assert(r.nonEmpty)
    r.foreach { x =>
      assert(x.getLong(1) == x.getLong(2) + x.getLong(3), s"${x.getString(0)}: gate must partition")
      assert(math.abs(x.getDouble(4) - x.getLong(2).toDouble / x.getLong(1)) < 1e-12)
    }
    // both verdicts occur on this corpus (value>100 exists), and totals match raw events
    assert(r.map(_.getLong(3)).sum > 0 && r.map(_.getLong(2)).sum > 0)
    val raw = graft.Tables(spark, sf()).events.count()
    assert(r.map(_.getLong(1)).sum == raw)
  }

  test("st15: streaming histogram MV equals batch recompute; bins bounded; totals exhaustive") {
    import org.apache.spark.sql.functions._
    val streamed = graft.Catalog.byName("st15_streaming_histogram")
      .build(spark, sf()).collect()
    assert(streamed.nonEmpty)
    // state is bounded by the MV definition: bin ∈ [0, 127]
    assert(streamed.forall(r => r.getLong(2) >= 0 && r.getLong(2) <= 127))
    // every event lands in exactly one (day, type, bin) — totals exhaustive
    val ev = graft.Tables(spark, sf()).events
    assert(streamed.map(_.getLong(3)).sum == ev.count())
    // independent batch recompute with the same pinned edges
    val bounds = ev.groupBy("event_type")
      .agg(min("value").as("mn"), max("value").as("mx"))
    val batch = ev.join(bounds, "event_type")
      .select(to_date(col("ts")).as("event_date"), col("event_type"),
        when(col("mx") === col("mn"), 0L)
          .otherwise(least(lit(127L),
            floor((col("value") - col("mn")) / ((col("mx") - col("mn")) / 128.0d))))
          .as("bin"))
      .groupBy("event_date", "event_type", "bin")
      .agg(count(lit(1)).as("c")).collect()
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getDate(0).toString, r.getString(1), r.getLong(2), r.getLong(3))
    assert(streamed.map(key).toSet == batch.map(key).toSet,
      "incremental histogram diverged from the batch recompute")
  }

  test("st14: streaming IVF routing equals an independent batch window-argmax recompute") {
    import org.apache.spark.sql.expressions.Window
    val streamed = graft.Catalog.byName("st14_streaming_ivf_routing")
      .build(spark, sf()).collect()
    assert(streamed.nonEmpty)
    // every vector routed exactly once
    val e = graft.Tables(spark, sf()).embeddings
    assert(streamed.map(_.getLong(1)).sum == e.count())
    // independent batch formulation: crossJoin + window argmax (the entry
    // uses a literal-centroid when() fold — this pins the tie-break match)
    val cents = e
      .select(col("label"), posexplode(col("embedding")).as(Seq("d", "v")))
      .groupBy("label", "d").agg(avg(col("v").cast("double")).as("c"))
      .groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("d"), col("c")))),
        x => x.getField("c")).cast("array<float>").as("centroid"))
      .select(col("label").as("cent_label"), col("centroid"))
    val w = Window.partitionBy("vec_id").orderBy(desc("ccos"), asc("label"))
    val batch = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cent_label").as("label"),
        graft.pipeline.VectorOps.cosine(col("embedding"), col("centroid")).as("ccos"))
      .withColumn("r", row_number().over(w)).filter(col("r") === 1)
      .groupBy(col("label").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_assigned"),
        min("ccos").as("min_cos"), max("ccos").as("max_cos"),
        sum(when(col("ccos") < 0.9, 1L).otherwise(0L)).cast("long").as("low_conf"))
      .collect()
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))
    assert(streamed.map(key).toSet == batch.map(key).toSet,
      "incremental routing diverged from the batch recompute")
  }

  test("st16: streaming retention MV equals q50's batch recompute row-for-row") {
    val streamed = graft.Catalog.byName("st16_streaming_retention")
      .build(spark, sf()).collect()
    val batch = graft.Catalog.byName("q50_retention").build(spark, sf()).collect()
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    assert(streamed.map(key).toSeq == batch.map(key).toSeq,
      "incremental retention diverged from the batch recompute")
    assert(streamed.nonEmpty)
  }

  test("st20: streaming timeline MV equals lt01's batch recompute row-for-row") {
    val streamed = graft.Catalog.byName("st20_streaming_timeline")
      .build(spark, sf()).collect()
    val batch = graft.Catalog.byName("lt01_lttb_downsample").build(spark, sf()).collect()
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getString(0), r.getTimestamp(1), r.getLong(2))
    assert(streamed.map(key).toSeq == batch.map(key).toSeq,
      "incremental timeline diverged from the batch recompute")
    assert(streamed.nonEmpty)
    // the serve read's window input is PROVABLY series×minutes: the
    // maintained MV has exactly one row per distinct (event_type, minute)
    // of the raw events — MV-sized, not event-history-sized
    val mv = StreamingMVs.timelineMv(spark, sf())
    val distinctMinutes = graft.Tables(spark, sf()).events
      .select(col("event_type"),
        graft.operators.Lttb.minuteCol(col("ts")))
      .distinct().count()
    assert(mv.count() == distinctMinutes,
      s"MV rows ${mv.count()} != distinct series-minutes $distinctMinutes")
  }

  test("st21: streaming URL dedup equals ur01's kept set; min-struct picks first-seen under any batch split") {
    // catalog-level: the maintained MV read equals ur01's first_seen rows
    val streamed = graft.Catalog.byName("st21_streaming_url_dedup")
      .build(spark, sf()).collect()
    val batch = graft.Catalog.byName("ur01_url_canonical").build(spark, sf())
      .filter(col("first_seen")).collect()
    val sKey = streamed.map(r => (r.getLong(0), r.getString(1), r.getString(2),
      r.getString(3), r.getLong(4))).toSeq
    val bKey = batch.map(r => (r.getLong(0), r.getString(1), r.getString(2),
      r.getString(3), r.getLong(5))).toSeq // ur01: ..., first_seen, url_dups
    assert(sKey == bKey && sKey.nonEmpty,
      "streaming URL dedup diverged from ur01's kept set")
    // determinism under arrival order: the min-struct state must pick the
    // SMALLEST doc_id even when a duplicate's larger doc arrives first —
    // replay the same aggregate over a MemoryStream with adversarial batch
    // splits (larger doc first, then the true first-seen in a later batch)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val agg = ms.toDF().toDF("doc_id", "canon_url")
      .groupBy("canon_url")
      .agg(min(struct(col("doc_id"))).as("keep"), count(lit(1)).as("url_dups"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("st21_order_test").start()
    try {
      ms.addData((7L, "u1"), (9L, "u2"))
      q.processAllAvailable()
      ms.addData((3L, "u1"), (9L, "u3")) // true first-seen of u1 arrives LAST
      q.processAllAvailable()
      val got = spark.table("st21_order_test")
        .select(col("canon_url"), col("keep.doc_id"), col("url_dups"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == Set(("u1", 3L, 2L), ("u2", 9L, 1L), ("u3", 9L, 1L)), got.toString)
    } finally q.stop()
  }

  test("st19: streaming peak-concurrency MV equals q55's batch recompute") {
    val streamed = graft.Catalog.byName("st19_streaming_concurrency")
      .build(spark, sf()).collect()
    val batch = graft.Catalog.byName("q55_peak_concurrency").build(spark, sf()).collect()
    assert(streamed.length == 1 && batch.length == 1)
    assert(streamed(0).getLong(0) == batch(0).getLong(0),
      s"incremental peak ${streamed(0)} diverged from batch ${batch(0)}")
    assert(streamed(0).getTimestamp(1) == batch(0).getTimestamp(1),
      s"incremental peak instant ${streamed(0)} diverged from batch ${batch(0)}")
  }

  test("st11 after events.parquet changes equals the batch over the new file") {
    val dir = tableCopy()
    val st11 = graft.Catalog.byName("st11_streaming_dedup")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    def batch = rows(graft.Tables(spark, dir).events
      .select("event_id", "ts", "user_id", "event_type", "value"))
    assert(rows(st11.build(spark, dir)) == batch)
    val before = batch
    rewriteEvents(dir)(_.filter(col("event_type") =!= "purchase"))
    assert(batch != before, "the rewrite did not change the batch rows")
    val after = rows(st11.build(spark, dir))
    assert(after == batch, s"st11 serves ${after.size} rows, the new file has ${batch.size}")
  }

  test("st13's second build in one session compiles no classes") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val st13 = graft.Catalog.byName("st13_streaming_quality_gate")
    val first = st13.build(spark, sf()).collect()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val second = st13.build(spark, sf()).collect()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiled == 0, s"the second st13 build compiled $compiled classes")
    assert(second.toSeq == first.toSeq)
  }

  test("StreamRunner runs leave the context's listener count flat over 5 st13 builds") {
    import org.apache.spark.sql.graftbridge.BusProbe
    val st13 = graft.Catalog.byName("st13_streaming_quality_gate")
    st13.build(spark, sf()).collect()
    val before = BusProbe.listeners(spark.sparkContext)
    (1 to 5).foreach(_ => st13.build(spark, sf()).collect())
    val after = BusProbe.listeners(spark.sparkContext)
    // streaming listener buses only: a session's execution listener bus is
    // removed by Spark's context cleaner once the session is collected, so
    // their number moves with garbage collection
    def streamingBuses(ls: Seq[String]) = ls.count(_.endsWith(".StreamingQueryListenerBus"))
    assert(streamingBuses(after) == streamingBuses(before),
      s"${before.size} listeners before 5 st13 builds, ${after.size} after; added: ${after.diff(before)}")
  }

  test("restart under StreamRunner's settings: a file-source aggregate resumes from its checkpoint") {
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft_restart_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_restart_ckpt").toString
    val schema = batch1.toDF().schema
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(to_date(col("ts")).as("event_date"), col("event_type"))
      .agg(count(lit(1)).as("events"), sum(col("value").cast("decimal(18,2)")).as("val"))
    def runOnce(): Set[Seq[Any]] = {
      val clone = StreamRunner.run(spark, sf()) { s =>
        Seq("restart_test" -> agg(s.readStream.schema(schema).parquet(src))
          .writeStream.outputMode("complete").format("memory")
          .option("checkpointLocation", ckpt))
      }
      clone.table("restart_test").collect().map(_.toSeq).toSet
    }
    batch1.toDF().coalesce(1).write.mode("append").parquet(src)
    val afterFirst = runOnce()
    assert(afterFirst == agg(batch1.toDF()).collect().map(_.toSeq).toSet)
    // the second file arrives after the stop; only the checkpointed state
    // carries batch 1's counts into the restarted query
    batch2.toDF().coalesce(1).write.mode("append").parquet(src)
    val restarted = runOnce()
    assert(restarted == agg((batch1 ++ batch2).toDF()).collect().map(_.toSeq).toSet)
    val commits = new java.io.File(ckpt, "commits").list().filterNot(_.startsWith("."))
    assert(commits.sorted.toSeq == Seq("0", "1"), s"expected one commit per run, got ${commits.toSeq}")
    // the runner's checkpoint manager writes the offset and commit logs
    // without the hidden `.name.crc` side files of Hadoop's checksummed
    // local file system
    val logs = Seq("offsets", "commits").flatMap(d => new java.io.File(ckpt, d).list().toSeq)
    assert(logs.nonEmpty && !logs.exists(n => n.startsWith(".") && n.endsWith(".crc")),
      s"checkpoint logs written through FileContext: $logs")
  }
}
