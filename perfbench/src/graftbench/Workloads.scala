package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{Catalog, Residency}
import graft.sql.{HttpServing, Serving}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}

/** What one workload run shares: the session, its options, the recorder
  * (traced runs only) and the result record being filled in.
  */
final class Ctx(val spark: SparkSession, val dataDir: String, val workDir: String,
    val seed: Long, val seconds: Double, val recorder: Option[Recorder]) {
  val record: mutable.LinkedHashMap[String, Any] = Json.obj()
  val setup: mutable.LinkedHashMap[String, Any] = Json.obj()
  val layers: mutable.LinkedHashMap[String, Any] = Json.obj()
  val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val codegen = new Codegen(workDir)
  val ops = mutable.ArrayBuffer[collection.Map[String, Any]]()
  var firstOpMs: Long = -1L
  var firstOpCpuMs: Double = Double.NaN

  def traced: Boolean = recorder.isDefined

  def span[T](name: String)(body: => T): T =
    recorder.map(_.span(name)(body)).getOrElse(body)

  /** Time a set-up phase into `setup.<name>_s`. */
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally setup(s"${name}_s") = (System.nanoTime() - t0) / 1e9
  }

  def markFirstOp(): Unit = if (firstOpMs < 0) {
    firstOpMs = Proc.nowMs
    firstOpCpuMs = Proc.cpuMs
  }

  def error(msg: String): Unit = { errors.add(msg); System.err.println(s"[perfbench] $msg") }
}

/** Set-up steps more than one workload uses. */
object Common {
  val initPartsKey = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"

  /** First streaming query of the process: loads the state-store provider. */
  def providerInit(spark: SparkSession, workDir: String): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Long]
    ms.addData(1L, 2L, 2L)
    val q = ms.toDF().dropDuplicates("value").writeStream
      .format("noop")
      .option("checkpointLocation", s"$workDir/ckpt-provider")
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  /** GET a JSON route; a body that is not a JSON array is a failure. */
  def fetch(port: Int)(route: String): (Boolean, String) = {
    val r = Http.get(port, route)
    (r.code == 200 && r.body.startsWith("["), r.body)
  }

  /** Reads `/api/stream` (1 s interval) until stopped, reconnecting from the
    * last id seen. Records every event id, to check that they strictly
    * increase and never repeat.
    */
  final class SseTail(port: Int, ctx: Ctx, seconds: Double) {
    val ids = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    @volatile var connections = 0
    private val IdRe = """"event_id":(-?[0-9]+)""".r.unanchored
    private val until = Proc.nowMs + (seconds * 1000).toLong
    private val thread = new Thread(() => {
      var last = -1L
      try while (Proc.nowMs < until) {
        connections += 1
        val rounds = math.max(1L, math.min(100L, (until - Proc.nowMs + 999) / 1000))
        val code = Http.sse(port, s"/api/stream?last_id=$last&rounds=$rounds&interval_ms=1000", {
          case IdRe(id) => ids.add(id.toLong); last = id.toLong
          case other => ctx.error(s"sse frame without event_id: ${other.take(80)}")
        })
        if (code != 200) ctx.error(s"sse status $code")
      } catch { case e: Throwable => ctx.error(s"sse failed: $e") }
    }, "perfbench-sse")

    def start(): Unit = thread.start()

    def finish(): collection.Map[String, Any] = {
      thread.join()
      val xs = ids.asScala.toSeq
      val increasing = xs.zip(xs.drop(1)).forall { case (a, b) => b > a }
      if (!increasing) ctx.error("sse event ids not strictly increasing")
      if (xs.isEmpty) ctx.error("sse delivered no events")
      Json.obj("events" -> xs.size, "connections" -> connections,
        "strictly_increasing" -> increasing, "ok" -> (increasing && xs.nonEmpty))
    }
  }

  /** Open-loop and direct-call serving figures. */
  def servingLayers(ctx: Ctx, samples: Seq[Sample], mix: Seq[String]): Unit = {
    ctx.layers("sql.http_ms_p50") = Stats.median(samples.map(s => (s.doneNs - s.sentNs) / 1e6))
    ctx.layers("sql.gen_late_ms_p95") =
      Stats.orZero(Stats.pct(samples.filter(_.waited).map(_.lateMs), 95))
    val rec = ctx.recorder.get
    rec.settle()
    val direct = mix.map { route =>
      val t0 = Proc.nowMs
      rec.span(route) {
        val df = rec.span(s"$route/run")(Serving.run(route, ctx.spark, ctx.dataDir))
        rec.span(s"$route/toJson")(Serving.toJson(df))
      }
      (t0, Proc.nowMs)
    }
    rec.settle()
    val spans = rec.spans.asScala.toSeq
    def durs(suffix: String) = spans.filter(_.name.endsWith(suffix)).map(s => (s.endMs - s.startMs).toDouble)
    val runMs = Stats.median(durs("/run"))
    val jsonMs = Stats.median(durs("/toJson"))
    ctx.layers("sql.run_ms_p50") = runMs
    ctx.layers("sql.json_ms_p50") = jsonMs
    ctx.layers("sql.queue_ms_p50") = ctx.layers("sql.http_ms_p50").asInstanceOf[Double] - runMs - jsonMs
    val work = direct.map { case (a, b) => rec.work(a, b) }
    val n = math.max(1, work.size).toDouble
    ctx.layers("sql.req_jobs") = work.map(_.jobs).sum / n
    ctx.layers("sql.req_tasks") = work.map(_.tasks).sum / n
    ctx.layers("sql.req_task_cpu_ms") = work.map(_.taskCpuS).sum * 1000 / n
    ctx.layers("sql.req_plan_ms") = work.map(_.planMs).sum / n
  }

  /** Record the samples of an open-loop phase as the run's ops. */
  def addSamples(ctx: Ctx, kind: String, samples: Seq[Sample]): Unit =
    samples.foreach { s =>
      ctx.ops += Json.obj("kind" -> kind, "name" -> s.route, "ms" -> s.latencyMs, "ok" -> s.ok)
    }

  /** Body digests per route, over every response of the run. */
  def routeDigests(samples: Seq[Sample]): collection.Map[String, Any] =
    mutable.TreeMap(samples.filter(_.ok).groupBy(_.route).toSeq.map { case (route, xs) =>
      route -> xs.map(s => Digest.ofJsonArray(s.body).toString).distinct.sorted
    }: _*)
}

/** Catalog: a fixed panel of entries, each first digested for the output
  * check (untimed; this also fills the codegen cache, as any earlier run of
  * an entry does in a long-lived session), then timed in whole passes, each
  * in a seed-permuted order, by one client building each entry and draining
  * it to a noop sink. After the passes, untimed, a seed-chosen slice of the
  * other entries is digested too: of those that need no stream set-up in
  * every run, and in traced runs, which pay that set-up anyway, also of
  * those that do. Runs with `slices` consecutive seeds, traced and untraced,
  * check every entry of the catalog.
  */
object CatalogWorkload {
  /** Slices of the traced runs' stream set-up entries. */
  val streamSlices = 4

  /** Entries whose first run in a session pays the MV cascade or a stream
    * warm-up (a cold 10-35 s): those of the cascade, the maintained streaming
    * MVs, MV routing, and the two SQL gateway entries that read the cascade.
    */
  lazy val streamSetup: Set[String] =
    (graft.streaming.MvCascade.defs ++ graft.streaming.StreamingMVs.defs ++
      graft.plans.MvRouting.defs).map(_.name).toSet ++
      Set("sq06_funnel_state_merge", "sq07_gateway_mv_routing")

  /** Slice `seed mod slices` of `names` in name order: every `slices`-th. */
  def slice(names: Seq[String], slices: Int, seed: Long): Seq[String] = {
    val sorted = names.sorted
    val k = java.lang.Math.floorMod(seed, slices.toLong).toInt
    sorted.indices.filter(_ % slices == k).map(sorted)
  }

  /** The entries a run checks beyond `panel`. */
  def checkSlice(panel: Seq[String], slices: Int, seed: Long, traced: Boolean): Seq[String] = {
    val (stream, plain) = Catalog.all.map(_.name).filterNot(panel.contains).partition(streamSetup)
    slice(plain, slices, seed) ++ (if (traced) slice(stream, streamSlices, seed) else Nil)
  }

  private def digestInto(ctx: Ctx, names: Seq[String], initParts: String,
      into: mutable.Map[String, String]): Unit = {
    val spark = ctx.spark
    names.foreach { name =>
      try {
        spark.conf.set(Common.initPartsKey, initParts)
        into(name) = Digest.of(Catalog.byName(name).build(spark, ctx.dataDir)).toString
      } catch { case e: Throwable => ctx.error(s"$name digest failed: $e") }
      finally Residency.release(spark)
    }
  }

  def run(ctx: Ctx, panel: Seq[String], checkSlices: Int): Unit = {
    val spark = ctx.spark
    val initParts = spark.conf.get(Common.initPartsKey)
    ctx.record("panel") = panel
    ctx.phase("provider_init")(Common.providerInit(spark, ctx.workDir))
    val digests = mutable.TreeMap[String, String]()
    ctx.phase("warmup")(digestInto(ctx, panel, initParts, digests))
    ctx.record("digests") = digests
    val rnd = new scala.util.Random(ctx.seed)
    val cg0 = ctx.codegen.snapshot
    val gc0 = Proc.gcMs
    // a fixed number of whole passes (about 5 s each on a quiet 4-core box,
    // 3 at 20 s), so that every entry is timed equally often and a slower run
    // does no less work; the run's wall stays in budget when the box is shared
    val passes = math.max(1, math.round(ctx.seconds / 7).toInt)
    var timedMs = 0.0
    var cpuMs = 0.0
    ctx.markFirstOp()
    val windows = mutable.ArrayBuffer[(String, Long, Long, Long)]()
    for (_ <- 1 to passes; name <- rnd.shuffle(panel)) {
      spark.conf.set(Common.initPartsKey, initParts)
      val fb0 = ctx.codegen.snapshot.fallbacks
      val t0 = Proc.nowMs
      val c0 = Proc.cpuMs
      val n0 = System.nanoTime()
      var tb = t0
      val ok = try {
        ctx.span(name) {
          val df = ctx.span(s"$name/build")(Catalog.byName(name).build(spark, ctx.dataDir))
          tb = Proc.nowMs
          ctx.span(s"$name/execute")(df.write.format("noop").mode("overwrite").save())
        }
        true
      } catch { case e: Throwable => ctx.error(s"$name failed: $e"); false }
      val ms = (System.nanoTime() - n0) / 1e6
      cpuMs += Proc.cpuMs - c0
      val t1 = Proc.nowMs
      timedMs += ms
      Residency.release(spark)
      val resident = Residency.residentRddCount(spark)
      if (resident > 0) ctx.error(s"$name left $resident resident RDDs")
      val fallbacks = ctx.codegen.snapshot.fallbacks - fb0
      if (fallbacks > 0) ctx.error(s"$name: $fallbacks whole-stage codegen fallback(s)")
      windows += ((name, t0, tb, t1))
      ctx.ops += Json.obj("kind" -> "entry", "name" -> name, "module" -> Modules.of(name),
        "ms" -> ms, "ok" -> (ok && resident == 0 && fallbacks == 0))
    }
    val cg1 = ctx.codegen.snapshot
    val gcMs = Proc.gcMs - gc0
    ctx.record("catalog_s") = timedMs / 1000
    ctx.record("throughput_per_s") = windows.size / (timedMs / 1000)
    ctx.record("cpu_ms_per_op") = cpuMs / windows.size
    ctx.record("codegen_fallbacks") = cg1.fallbacks - cg0.fallbacks

    ctx.recorder.foreach { rec =>
      rec.settle()
      Modules.names.foreach { m =>
        val mine = windows.filter(w => Modules.of(w._1) == m)
        val all = mine.map { case (_, t0, _, t1) => rec.work(t0, t1) }.foldLeft(Work.zero)(_ + _)
        val build = mine.map { case (_, t0, tb, _) => rec.work(t0, tb) }.foldLeft(Work.zero)(_ + _)
        val wall = mine.map(w => w._4 - w._2).sum / 1000.0
        val buildS = mine.map(w => w._3 - w._2).sum / 1000.0
        ctx.layers(s"$m.wall_s") = wall
        ctx.layers(s"$m.build_s") = buildS
        ctx.layers(s"$m.exec_s") = wall - buildS
        ctx.layers(s"$m.plan_ms") = all.planMs
        ctx.layers(s"$m.jobs") = all.jobs
        ctx.layers(s"$m.build_jobs") = build.jobs
        ctx.layers(s"$m.stages") = all.stages
        ctx.layers(s"$m.tasks") = all.tasks
        ctx.layers(s"$m.task_cpu_s") = all.taskCpuS
        ctx.layers(s"$m.driver_gap_s") = wall - all.busyMs / 1000.0
        ctx.layers(s"$m.shuffle_bytes") = all.shuffleBytes
        ctx.layers(s"$m.spill_bytes") = all.spillBytes
      }
      ctx.layers("codegen.compile_ms") = cg1.compileMs - cg0.compileMs
      ctx.layers("codegen.classes") = cg1.classes - cg0.classes
      ctx.layers("codegen.fallbacks") = cg1.fallbacks - cg0.fallbacks
      ctx.layers("gc.ms") = gcMs
      // the stream set-up that the panel leaves out, timed after the passes
      ctx.phase("cascade")(graft.streaming.MvCascade.run(spark, ctx.dataDir))
      ctx.setup("cascade_busy_s") =
        graft.streaming.MvCascade.setupBreakdown(ctx.dataDir).map(_._2.busySec).sum
      ctx.phase("stream_warm")(graft.streaming.StreamingMVs.warm(spark, ctx.dataDir))
      Residency.release(spark)
    }
    val checked = checkSlice(panel, checkSlices, ctx.seed, ctx.traced)
    ctx.record("checked") = checked
    val fb0 = ctx.codegen.snapshot.fallbacks
    val t0 = System.nanoTime()
    digestInto(ctx, checked, initParts, digests)
    ctx.record("checked_s") = (System.nanoTime() - t0) / 1e9
    val fallbacks = ctx.codegen.snapshot.fallbacks - fb0
    if (fallbacks > 0) ctx.error(s"checked slice: $fallbacks whole-stage codegen fallback(s)")
  }

  /** Every entry once, untimed, for the committed digests. */
  def digestAll(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val initParts = spark.conf.get(Common.initPartsKey)
    val out = mutable.TreeMap[String, String]()
    val walls = mutable.TreeMap[String, Double]()
    Catalog.all.map(_.name).foreach { name =>
      try {
        spark.conf.set(Common.initPartsKey, initParts)
        val t0 = System.nanoTime()
        Catalog.byName(name).build(spark, ctx.dataDir).write.format("noop").mode("overwrite").save()
        walls(name) = (System.nanoTime() - t0) / 1e6
        Residency.release(spark)
        spark.conf.set(Common.initPartsKey, initParts)
        out(name) = Digest.of(Catalog.byName(name).build(spark, ctx.dataDir)).toString
      } catch { case e: Throwable => ctx.error(s"$name failed: $e") }
      finally Residency.release(spark)
    }
    ctx.record("digests") = out
    ctx.record("entry_ms") = walls
    ctx.record("route_digests") = mutable.TreeMap(Serving.endpoints.keys.toSeq.map { route =>
      val body = Serving.toJson(Serving.run(route, spark, ctx.dataDir))
      Residency.release(spark)
      route -> Seq(Digest.ofJsonArray(body).toString)
    }: _*)
  }
}

/** Serving beside streaming: the HTTP shim's dashboard routes and the
  * generated-event minute MV in one session. Saturated ingest alone; one
  * client reading the routes back to back; then the MV paced at a fixed R
  * rows per 2 s trigger while the routes are read open loop and the SSE tail
  * runs. Traced runs add a 3-client closed-loop capacity phase.
  */
object LiveWorkload {
  val clients = 3 // plus the SSE tail: four client threads in all
  val satRowsPerBatch = 50000
  val intervalMs = 2000L // paced trigger: keeps the box about half busy, so reads queue little

  private final class Progress extends StreamingQueryListener {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      events.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def of(runId: java.util.UUID): Seq[StreamingQueryProgress] =
      events.asScala.filter(_.runId == runId).toSeq.sortBy(_.batchId)
  }

  private def startMs(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli
  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** Run the minute MV for `seconds` while `during` runs; returns its
    * progress events after checking that every batch took exactly `rows`.
    */
  private def ingest(ctx: Ctx, progress: Progress, rows: Int, trigger: Trigger,
      tag: String, seconds: Double)(during: => Unit): Seq[StreamingQueryProgress] = {
    val q = graft.streaming.Ingest.generatedMinuteMv(ctx.spark, rows)
      .writeStream.outputMode("update").format("noop")
      .option("checkpointLocation", s"${ctx.workDir}/ckpt-$tag")
      .trigger(trigger).start()
    val end = System.nanoTime() + (seconds * 1e9).toLong
    during
    val left = end - System.nanoTime()
    if (left > 0) Thread.sleep(left / 1000000)
    q.stop()
    q.exception.foreach(e => ctx.error(s"ingest $tag failed: $e"))
    Thread.sleep(300) // progress events arrive on the listener bus
    val ps = progress.of(q.runId)
    val rowsIn = ps.map(_.numInputRows).sum
    val exact = ps.nonEmpty && rowsIn == rows.toLong * ps.size
    if (!exact) ctx.error(s"ingest $tag accounting: $rowsIn rows in ${ps.size} batches of $rows")
    ctx.record(s"ingest_$tag") = Json.obj("batches" -> ps.size, "rows" -> rowsIn,
      "rows_per_batch" -> rows, "exact" -> exact)
    ps
  }

  def run(ctx: Ctx, pacedRows: Int, rate: Double): Unit = {
    val spark = ctx.spark
    val routes = Serving.endpoints.keys.toIndexedSeq.sorted
    ctx.phase("provider_init")(Common.providerInit(spark, ctx.workDir))
    val handle = ctx.phase("http_start")(HttpServing.start(spark, ctx.dataDir))
    val progress = new Progress
    spark.streams.addListener(progress)
    try {
      val fetch = Common.fetch(handle.port) _
      ctx.phase("warmup") { // before the SSE tail starts, so with all four client threads
        LoadGen.openLoop(routes.map(0L -> _), clients + 1, fetch).filterNot(_.ok)
          .foreach(s => ctx.error(s"warm-up ${s.route} failed"))
      }
      val cg0 = ctx.codegen.snapshot
      val gc0 = Proc.gcMs
      ctx.markFirstOp()
      val sat = ingest(ctx, progress, satRowsPerBatch, Trigger.ProcessingTime(0L), "saturated",
        ctx.seconds * 0.25)(())
      // rows per second of the median batch, the first (cold) batch left out
      // unless it is the only one (a box shared with other machines)
      ctx.record("ingest_max_eps") = satRowsPerBatch /
        (Stats.median((if (sat.size > 1) sat.drop(1) else sat).map(dur(_, "triggerExecution"))) / 1000.0)

      // one client reading the routes back to back: whole seeded cycles,
      // about 5 s each, so every route is read equally often
      val rnd = new scala.util.Random(ctx.seed)
      val serial = (1 to math.max(1, math.round(ctx.seconds / 10).toInt))
        .flatMap(_ => rnd.shuffle(routes)).map { route =>
          val t0 = System.nanoTime()
          val (ok, body) = try fetch(route) catch { case _: Throwable => (false, "") }
          Sample(route, t0, t0, System.nanoTime(), ok, waited = false, body)
        }
      ctx.record("throughput_per_s") = serial.size / (serial.map(_.latencyMs).sum / 1000)

      val sse = new Common.SseTail(handle.port, ctx, ctx.seconds * 0.4)
      sse.start()
      var samples = Seq.empty[Sample]
      val c0 = Proc.cpuMs
      val paced = ingest(ctx, progress, pacedRows, Trigger.ProcessingTime(intervalMs), "paced",
        ctx.seconds * 0.4) {
        samples = LoadGen.openLoop(LoadGen.schedule(routes, rate, ctx.seconds * 0.4 - 1, ctx.seed),
          clients, fetch)
      }
      // CPU of the whole paced load (ingest, requests, SSE) per request
      ctx.record("cpu_ms_per_op") = (Proc.cpuMs - c0) / math.max(1, samples.size)
      ctx.record("sse") = sse.finish()
      val cg1 = ctx.codegen.snapshot
      ctx.record("codegen_fallbacks") = cg1.fallbacks - cg0.fallbacks
      Common.addSamples(ctx, "request", serial)
      ctx.record("open_loop") = samples.map(s => Json.obj("name" -> s.route, "ms" -> s.latencyMs, "ok" -> s.ok))
      samples.filterNot(_.ok).foreach(s => ctx.error(s"open-loop ${s.route} failed"))
      ctx.record("offered_rate_per_s") = rate
      // freshness per trigger slot: slot start -> batch commit (first batch is cold)
      val measured = paced.drop(1)
      val slots = measured.map(p => (startMs(p) / intervalMs) * intervalMs)
      val fresh = measured.zip(slots).map { case (p, slot) =>
        startMs(p) + dur(p, "triggerExecution") - slot }
      val late = measured.zip(slots).count { case (p, slot) => startMs(p) - slot > intervalMs / 10 }
      ctx.record("fresh_ms") = fresh
      if (ctx.traced) {
        ctx.layers("codegen.compile_ms") = cg1.compileMs - cg0.compileMs
        ctx.layers("codegen.classes") = cg1.classes - cg0.classes
        ctx.layers("codegen.fallbacks") = cg1.fallbacks - cg0.fallbacks
        ctx.layers("gc.ms") = Proc.gcMs - gc0
        ctx.layers("streaming.batches") = paced.size
        ctx.layers("streaming.late_triggers") = late
        ctx.layers("streaming.fresh_ms_p50") = Stats.median(fresh)
        Seq("triggerExecution" -> "trigger", "addBatch" -> "add_batch",
          "latestOffset" -> "latest_offset", "queryPlanning" -> "query_planning",
          "walCommit" -> "wal_commit", "commitOffsets" -> "commit_offsets").foreach { case (k, n) =>
          ctx.layers(s"streaming.${n}_ms_p50") = Stats.median(measured.map(dur(_, k)))
        }
        ctx.layers("streaming.state_commit_ms_p50") =
          Stats.median(measured.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble))
        val last = paced.lastOption.map(_.stateOperators.toSeq).getOrElse(Seq.empty)
        ctx.layers("streaming.state_rows") = last.map(_.numRowsTotal).sum
        ctx.layers("streaming.state_mem_bytes") = last.map(_.memoryUsedBytes).sum
        // serving capacity alone, after the timed phases: closed loop, 3 clients
        val (cap, capS) = LoadGen.closedLoop(routes, clients, ctx.seconds * 0.2, ctx.seed, fetch)
        ctx.layers("sql.sat_rps") = cap.count(_.ok) / capS
        ctx.layers("streaming.sat_eps") = ctx.record("ingest_max_eps")
        Common.servingLayers(ctx, samples, routes)
        samples ++= cap
      }
      ctx.record("route_digests") = Common.routeDigests(serial ++ samples)
    } finally {
      spark.streams.removeListener(progress)
      handle.close()
    }
  }
}
