package graft.sql

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.{Catalog, SparkSpec, Tables}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.{col, rand, struct, to_json}

class ServingSpec extends SparkSpec {

  test("every endpoint maps to an existing catalog query") {
    Serving.endpoints.values.foreach(n => assert(Catalog.byName.contains(n), s"missing $n"))
  }

  test("endpoint runs and serializes to a JSON array") {
    val json = Serving.toJson(Serving.run("/api/top-countries", spark, sf()), maxRows = 5)
    assert(json.startsWith("[{") && json.endsWith("}]"))
    assert(json.contains("\"region\""))
  }

  test("scheduled refresh ticks and can be stopped") {
    val out = java.nio.file.Files.createTempDirectory("graft_sched").toString + "/mv"
    val handle = Serving.scheduleRefresh(spark, sf(), "q07_user_segments", out, periodMillis = 60000)
    try {
      // wait for the commit marker, not the directory (which appears mid-write)
      val success = new java.io.File(out, "_SUCCESS")
      val deadline = System.currentTimeMillis() + 30000
      while (!success.exists() && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      assert(success.exists(), "first refresh tick did not commit within 30s")
      assert(spark.read.parquet(out).count() > 0)
    } finally handle.close()
  }

  test("refresh overwrites the result table atomically") {
    val out = java.nio.file.Files.createTempDirectory("graft_refresh").toString + "/mv"
    Serving.refresh(spark, sf(), "q07_user_segments", out)
    val first = spark.read.parquet(out).count()
    Serving.refresh(spark, sf(), "q07_user_segments", out)
    assert(spark.read.parquet(out).count() == first && first > 0)
  }

  private def httpGet(url: String): (Int, String) = {
    val conn = URI.create(url).toURL.openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setConnectTimeout(5000)
    conn.setReadTimeout(120000)
    val code = conn.getResponseCode
    val stream = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = new String(stream.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    conn.disconnect()
    (code, body)
  }

  test("HTTP shim serves endpoints over a real socket") {
    val handle = HttpServing.start(spark, sf())
    try {
      val base = s"http://127.0.0.1:${handle.port}"
      val (hc, hb) = httpGet(s"$base/health")
      assert(hc == 200 && hb.contains("ok"))
      for (route <- Seq("/api/top-countries", "/api/event-types", "/api/stats")) {
        val (code, body) = httpGet(s"$base$route")
        assert(code == 200, s"$route -> $code")
        assert(body.startsWith("[{") && body.endsWith("}]"), s"$route body: ${body.take(80)}")
      }
    } finally handle.close()
  }

  test("SSE change feed streams events and advances the cursor") {
    val handle = HttpServing.start(spark, sf())
    try {
      val (code, body) = httpGet(
        s"http://127.0.0.1:${handle.port}/api/stream?last_id=-1&rounds=2&interval_ms=50")
      assert(code == 200)
      val frames = body.split("\n\n").filter(_.startsWith("data: "))
      assert(frames.nonEmpty, s"no SSE frames in: ${body.take(120)}")
      assert(frames.head.contains("\"event_id\""))
      // the second round starts past the first round's cursor: ids never repeat
      val ids = frames.map(f => "\"event_id\":(\\d+)".r.findFirstMatchIn(f).get.group(1).toLong)
      assert(ids.distinct.length == ids.length, "change feed re-emitted an event id")
    } finally handle.close()
  }

  /** The `data:` frames of one SSE connection, read as they arrive;
    * `onFrame` runs after each frame with the number read so far.
    */
  private def sseFrames(url: String)(onFrame: Int => Unit = _ => ()): Seq[String] = {
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setConnectTimeout(5000)
    conn.setReadTimeout(120000)
    assert(conn.getResponseCode == 200)
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(conn.getInputStream, UTF_8))
    try Iterator.continually(in.readLine()).takeWhile(_ != null).filter(_.startsWith("data: "))
      .zipWithIndex.map { case (frame, i) => onFrame(i + 1); frame }.toList
    finally { in.close(); conn.disconnect() }
  }

  /** The frames of `rounds` rounds of the SSE tail loop with one change-feed
    * query per round, from `lastId` over the files in `dir`, per round.
    */
  private def perRoundFrames(dir: String, lastId: Long, rounds: Int): Seq[Seq[String]] = {
    var last = lastId
    (1 to rounds).map { _ =>
      val feed = graft.streaming.Ingest.changeFeed(spark, dir, last)
      val batch = feed.select(col("event_id"),
        to_json(struct(feed.columns.toIndexedSeq.map(col): _*))).collect()
      last = batch.lastOption.map(_.getLong(0)).getOrElse(last)
      batch.toSeq.map(row => s"data: ${row.getString(1)}")
    }
  }

  private def eventId(frame: String): Long =
    "\"event_id\":(\\d+)".r.findFirstMatchIn(frame).get.group(1).toLong

  private val Round = HttpServing.Round

  test("an SSE connection sends the frames of a per-round change-feed query, in order") {
    val ids = Tables(spark, sf()).events.select("event_id").collect().map(_.getLong(0)).sorted
    assert(ids.length > 3 * Round, ids.length)
    withServer(sf()) { base =>
      // from the start; then from 2.4 rounds before the end of the table, so
      // the third round is short and the fourth is empty
      for ((last, rounds, sizes) <- Seq((-1L, 3, Seq(Round, Round, Round)),
          (ids(ids.length - 121), 4, Seq(Round, Round, 20, 0)))) {
        val want = perRoundFrames(sf(), last, rounds)
        assert(want.map(_.size) == sizes)
        val got = sseFrames(s"$base/api/stream?last_id=$last&rounds=$rounds&interval_ms=0")()
        assert(got == want.flatten, s"last_id=$last rounds=$rounds")
      }
    }
  }

  test("on unchanged files one SSE connection runs one feed query and compiles nothing after its first round") {
    val rounds = 4
    // table footers warm, on a server of its own: a server's connections share its feed buffer
    withServer(sf())(base => sseFrames(s"$base/api/stream?last_id=-1&rounds=1&interval_ms=0")())
    withServer(sf()) { base =>
      var afterFirst = -1L
      val (frames, _, executions) = workOf {
        sseFrames(s"$base/api/stream?last_id=-1&rounds=$rounds&interval_ms=200") { n =>
          if (n == Round) afterFirst = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        }
      }
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - afterFirst
      assert(frames.size == rounds * Round && afterFirst >= 0)
      assert(executions == 1, s"$rounds rounds ran $executions SQL executions")
      assert(compiled == 0, s"rounds 2-$rounds compiled $compiled classes")
      val sse = metrics(base).get("sse")
      assert(sse.get("connections").asLong == 1 && sse.get("rounds").asLong == rounds &&
        sse.get("feed_queries").asLong == 1, sse)
    }
  }

  test("on unchanged files a reconnect from inside the feed buffer runs no query and compiles nothing") {
    withServer(sf()) { base =>
      val first = sseFrames(s"$base/api/stream?last_id=-1&rounds=2&interval_ms=0")()
      assert(first.size == 2 * Round)
      val last = eventId(first.last)
      val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val (frames, _, executions) = workOf {
        sseFrames(s"$base/api/stream?last_id=$last&rounds=3&interval_ms=0")()
      }
      val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0
      assert(executions == 0, s"the reconnect ran $executions SQL executions")
      assert(compiled == 0, s"the reconnect compiled $compiled classes")
      assert(frames == perRoundFrames(sf(), last, 3).flatten)
      val sse = metrics(base).get("sse")
      assert(sse.get("connections").asLong == 2 && sse.get("feed_queries").asLong == 1, sse)
    }
  }

  test("an SSE round after events.parquet is rewritten reads the new file") {
    val dir = tableCopy()
    val before = perRoundFrames(dir, -1L, 2)
    withServer(dir) { base =>
      // the server sleeps 6 s between the rounds; the rewrite lands in it
      val frames = sseFrames(s"$base/api/stream?last_id=-1&rounds=2&interval_ms=6000") { n =>
        if (n == Round) rewriteEvents(dir)(_.filter(col("event_id") % 2 === 0))
      }
      assert(frames.take(Round) == before.head)
      val want = perRoundFrames(dir, eventId(frames(Round - 1)), 1).head
      assert(want.nonEmpty && want.forall(eventId(_) % 2 == 0) && want != before(1))
      assert(frames.drop(Round) == want)
    }
  }

  private def withServer[T](dir: String)(body: String => T): T = {
    val handle = HttpServing.start(spark, dir)
    try body(s"http://127.0.0.1:${handle.port}") finally handle.close()
  }

  private def metrics(base: String): JsonNode = {
    val (code, body) = httpGet(s"$base/metrics")
    assert(code == 200, body)
    new ObjectMapper().readTree(body)
  }

  private def entryCounts(base: String): Map[String, (Long, Long)] = {
    val entries = metrics(base).get("entries")
    Serving.endpoints.values.toSeq.distinct.map { n =>
      n -> (entries.get(n).get("hits").asLong, entries.get(n).get("misses").asLong)
    }.toMap
  }

  private def direct(route: String, dir: String): String =
    Serving.toJson(Serving.run(route, spark, dir))

  private def roots(name: String, dir: String): Seq[String] =
    ResultCache.fileRoots(Catalog.byName(name).build(spark, dir).queryExecution.analyzed)
      .getOrElse(fail(s"$name is not cacheable")).map(_.getName)

  test("every route entry reads only files and is cacheable") {
    val entries = Serving.endpoints.values.toSeq.distinct
    assert(entries.size == 13)
    entries.foreach(roots(_, sf()))
  }

  test("a plan with a local relation, a checkpointed RDD or a random column is never cached") {
    import spark.implicits._
    val region = Tables(spark, sf()).region
    assert(ResultCache.fileRoots(region.queryExecution.analyzed).isDefined)
    val declined = Seq(
      Seq(1, 2).toDF("r_regionkey"),
      region.join(Seq(1, 2).toDF("r_regionkey"), "r_regionkey"),
      region.localCheckpoint(eager = false),
      region.withColumn("r", rand()))
    declined.foreach(df => assert(ResultCache.fileRoots(df.queryExecution.analyzed).isEmpty,
      df.queryExecution.analyzed.toString))
  }

  test("cached bodies equal the uncached bodies byte for byte, on a miss and on a hit") {
    withServer(sf()) { base =>
      val routes = Serving.endpoints.keys.toSeq.sorted
      val bodies = routes.map(r => r -> httpGet(s"$base$r")).toMap
      val again = routes.map(r => r -> httpGet(s"$base$r")).toMap
      routes.foreach { r =>
        val want = direct(r, sf())
        assert(bodies(r) == (200 -> want), s"$r miss")
        assert(again(r) == (200 -> want), s"$r hit")
      }
      // the first read of each entry missed, every other read hit
      val counts = entryCounts(base)
      assert(counts.values.map(_._2).toSet == Set(1L), counts)
      assert(counts.values.map(_._1).sum == 2 * routes.size - counts.size, counts)
    }
  }

  test("rewriting events.parquet misses exactly the entries that read it") {
    val dir = tableCopy()
    val readsEvents = Serving.endpoints.values.toSet.filter(roots(_, dir).contains("events.parquet"))
    assert(!readsEvents("q02_region_rollup") && !readsEvents("q06_revenue_by_month"))
    assert(readsEvents("q18_kpi_snapshot") && readsEvents("q05_event_type_share"), readsEvents)
    withServer(dir) { base =>
      val routes = Serving.endpoints.keys.toSeq.sorted
      routes.foreach(r => assert(httpGet(s"$base$r")._1 == 200, r))
      val before = entryCounts(base)
      // fewer rows, so a different length
      val target: Path = Paths.get(dir, "events.parquet")
      val oldLength = Files.size(target)
      rewriteEvents(dir)(events => events.limit((events.count() - 7).toInt))
      assert(Files.size(target) != oldLength)
      routes.foreach { r =>
        val (code, body) = httpGet(s"$base$r")
        // expected rows from the files, not from any session cache
        spark.catalog.clearCache()
        assert(code == 200 && body == direct(r, dir), r)
      }
      val after = entryCounts(base)
      val missed = after.keySet.filter(n => after(n)._2 > before(n)._2)
      assert(missed == readsEvents)
      assert(after.forall { case (n, (_, m)) => m <= before(n)._2 + 1 }, after)
    }
  }

  test("a route re-run after its files change reads the new rows") {
    val dir = tableCopy()
    val route = "/api/conversion-funnel"
    // q09's per-user flags are the same plan as q08's, so a Dataset cache
    // of them, once q09 has run in the session, would answer q08 too
    Catalog.byName("q09_funnel_steps_union").build(spark, dir).collect()
    withServer(dir) { base =>
      val (code0, before) = httpGet(s"$base$route")
      assert(code0 == 200)
      rewriteEvents(dir)(_.filter(col("event_type") =!= "purchase"))
      val (code, body) = httpGet(s"$base$route")
      spark.catalog.clearCache()
      val want = direct(route, dir)
      assert(want != before, "the rewrite did not change the route's rows")
      assert(code == 200 && body == want)
    }
  }

  /** `body`'s result and the jobs and SQL executions it started: the
    * listener bus is drained before and after `body` by a marker job, and
    * counted once the marker has been seen.
    */
  private def workOf[T](body: => T): (T, Int, Int) = {
    val jobs, executions = new AtomicInteger()
    val marker = "graft-serving-marker"
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          markerSeen = true
        else jobs.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => executions.incrementAndGet()
        case _ => ()
      }
    }
    def drain(): Unit = {
      markerSeen = false
      spark.sparkContext.setJobDescription(marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 30000
      while (!markerSeen && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(markerSeen, "the listener bus did not drain")
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      drain()
      jobs.set(0)
      executions.set(0)
      val out = body
      drain()
      (out, jobs.get, executions.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("concurrent requests for one cold entry run one query") {
    val route = "/api/stats"
    direct(route, sf()) // table footers and codegen warm
    withServer(sf()) { base =>
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      try {
        val (_, served, _) = workOf {
          val fs = (1 to 8).map(_ => pool.submit(() => httpGet(s"$base$route")))
          fs.foreach(f => assert(f.get()._1 == 200))
        }
        val (_, once, _) = workOf(direct(route, sf()))
        assert(once > 0 && served == once, s"8 requests ran $served jobs, one query runs $once")
        assert(entryCounts(base)("q18_kpi_snapshot") == (7L -> 1L))
      } finally pool.shutdown()
    }
  }

  test("/metrics reports per-entry counts and latency and each active stream") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[Int]
    val q = stream.toDF().writeStream.format("noop").queryName("metrics_probe")
      .option("checkpointLocation", Files.createTempDirectory("graft_metrics").toString)
      .start()
    try {
      stream.addData(1, 2, 3)
      q.processAllAvailable()
      withServer(sf()) { base =>
        httpGet(s"$base/api/top-countries")
        httpGet(s"$base/api/top-countries")
        val m = metrics(base)
        val e = m.get("entries").get("q02_region_rollup")
        assert(e.get("requests").asLong == 2 && e.get("hits").asLong == 1 && e.get("misses").asLong == 1)
        assert(e.get("cacheable").asBoolean)
        assert(e.get("p50_ms").asDouble > 0 && e.get("p99_ms").asDouble >= e.get("p50_ms").asDouble)
        val sse = metrics(base).get("sse")
        assert(Seq("connections", "rounds", "feed_queries").map(sse.get(_).asLong) == Seq(0L, 0L, 0L), sse)
        assert(httpGet(s"$base/api/stream?last_id=-1&rounds=3&interval_ms=0")._1 == 200)
        val after = metrics(base).get("sse")
        assert(Seq("connections", "rounds", "feed_queries").map(after.get(_).asLong) == Seq(1L, 3L, 1L),
          after)
        val idle = m.get("entries").get("q07_user_segments")
        assert(idle.get("requests").asLong == 0 && idle.get("p50_ms").isNull && idle.get("cacheable").isNull)
        val streams = m.get("streams")
        val probe = (0 until streams.size).map(streams.get).find(_.get("name").asText == "metrics_probe")
          .getOrElse(fail(s"no metrics_probe stream in $streams"))
        assert(probe.get("id").asText == q.id.toString)
        assert(probe.get("batch_id").asLong == q.lastProgress.batchId)
        assert(probe.get("trigger_ms").isNumber)
      }
    } finally q.stop()
  }

  test("routes answer only their exact path") {
    withServer(sf()) { base =>
      for (path <- Seq("/api/statsXYZ", "/api/stats/x", "/healthz", "/health/x", "/metrics2",
          "/api/streamX?rounds=1")) {
        val (code, body) = httpGet(s"$base$path")
        assert(code == 404 && body.contains("not found"), s"$path -> $code $body")
      }
      assert(httpGet(s"$base/health")._1 == 200)
    }
  }

  test("SSE rejects a non-integer parameter with a 400 and clamps a negative interval") {
    withServer(sf()) { base =>
      for (bad <- Seq("last_id=x", "rounds=1.5", "interval_ms=", "last_id=1&interval_ms=soon")) {
        val (code, body) = httpGet(s"$base/api/stream?$bad")
        assert(code == 400 && body.contains("must be an integer"), s"$bad -> $code $body")
      }
      val (code, body) = httpGet(s"$base/api/stream?last_id=-1&rounds=2&interval_ms=-5")
      assert(code == 200 && body.split("\n\n").count(_.startsWith("data: ")) > 0, body.take(120))
    }
  }

  test("closing the server ends its handler threads") {
    withServer(sf()) { base => assert(httpGet(s"$base/health")._1 == 200) }
    def alive = Thread.getAllStackTraces.keySet.asScala.count(_.getName == "graft-http")
    val deadline = System.currentTimeMillis() + 10000
    while (alive > 0 && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(alive == 0, "graft-http threads outlived their closed servers")
  }
}
