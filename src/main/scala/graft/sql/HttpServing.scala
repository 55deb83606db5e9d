package graft.sql

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ExecutorService, Executors}
import java.util.concurrent.atomic.AtomicLong

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.sources.Listing
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Socket-level serving shim over [[Serving]]'s endpoint map — the analog of
  * the reference's Flask apps (app.py:40–413 JSON dashboard routes;
  * app_interactive.py:38–89 SSE change-feed loop). JDK-only
  * (`com.sun.net.httpserver`), no new dependencies.
  *
  * Model: one shared SparkSession; each server holds a [[ResultCache]] keyed
  * by catalog entry. A JSON request lists the files its entry reads and, when
  * none changed since the entry last ran, returns the held body without
  * planning or running anything. Otherwise — the first request for an entry,
  * a changed input file, or an entry whose plan reads something other than
  * files — it runs the entry's catalog query and serializes the post-LIMIT
  * result (Serving.toJson — the one documented collect edge).
  *
  * The SSE route replays the reference's tail loop: each round emits the
  * events with `event_id > cursor` in id order, at most [[Round]] of them,
  * one `data:` frame per event, advances the cursor and sleeps. Rounds are
  * served from a buffer the server's connections share ([[Feed]]): one
  * [[graft.streaming.Ingest.changeFeed]] query for [[FeedRows]] events,
  * held with the [[graft.sources.Listing]] of the feed's files read before
  * the query. A round queries again only when the listing has changed, or
  * when the buffer does not hold the round (its cursor is before the
  * buffer's start, or past its end short of the table's end); so every
  * frame is the one a per-round query would have sent, and a reconnect from
  * a cursor inside the buffer runs no query. (The cursor is a literal that
  * Spark inlines into generated code, so each query with a new cursor
  * compiles new classes.)
  *
  * `/metrics` reports the cache's per-entry requests, hits, misses and
  * latency, the SSE route's connections, rounds and feed queries, and each
  * active stream's last progress.
  *
  * Every route answers only its exact path (the JDK server matches contexts
  * by prefix); anything longer is a 404.
  */
object HttpServing {

  final case class Handle(server: HttpServer, port: Int, cache: ResultCache) extends AutoCloseable {
    /** Stops the server and its handler threads; `server.stop` leaves the
      * executor's threads running.
      */
    override def close(): Unit = {
      server.stop(0)
      server.getExecutor.asInstanceOf[ExecutorService].shutdownNow()
    }
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Events per SSE round: the reference's `LIMIT 50`. */
  val Round = 50

  /** Rounds per connection, at most. */
  private val MaxRounds = 100

  /** Events one change-feed query buffers: a whole connection's rounds. */
  val FeedRows: Int = Round * MaxRounds

  /** The SSE route's counters: connections served, rounds run and change-feed
    * queries, so `rounds / feed_queries` is the rounds one query served.
    */
  private final class SseStats {
    val connections, rounds, feedQueries = new AtomicLong

    def snapshot: Map[String, Long] = Map("connections" -> connections.get,
      "rounds" -> rounds.get, "feed_queries" -> feedQueries.get)
  }

  /** Start on 127.0.0.1:`port` (0 = ephemeral); returns the bound handle. */
  def start(spark: SparkSession, dir: String, port: Int = 0): Handle = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.setExecutor(Executors.newFixedThreadPool(4, r => {
      val t = new Thread(r, "graft-http"); t.setDaemon(true); t
    }))
    val cache = new ResultCache(spark, dir)
    val sse = new SseStats
    Serving.endpoints.keys.foreach { route =>
      server.createContext(route, exact(route)(ex => respond(ex, 200, cache.body(route))))
    }
    val feed = new Feed(spark, dir, sse.feedQueries)
    server.createContext("/api/stream", exact("/api/stream")(sseHandler(feed, sse)))
    server.createContext("/health", exact("/health")(respond(_, 200, """{"status":"ok"}""")))
    server.createContext("/metrics", exact("/metrics")(ex =>
      respond(ex, 200, mapper.writeValueAsString(Map(
        "entries" -> cache.metrics,
        "sse" -> sse.snapshot,
        "streams" -> spark.streams.active.toSeq.map { q =>
          val p = Option(q.lastProgress)
          Map("id" -> q.id.toString, "name" -> q.name,
            "batch_id" -> p.map(_.batchId: Any).orNull,
            "trigger_ms" -> p.flatMap(x => Option(x.durationMs.get("triggerExecution"))).orNull)
        })))))
    server.start()
    Handle(server, server.getAddress.getPort, cache)
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def error(ex: HttpExchange, code: Int, message: String): Unit =
    respond(ex, code, mapper.writeValueAsString(Map("error" -> message)))

  /** `handler` on exactly `route`: a 404 for a longer path the context's
    * prefix match let through, a 500 naming the exception it threw.
    */
  private def exact(route: String)(handler: HttpExchange => Unit): HttpHandler =
    (ex: HttpExchange) =>
      if (ex.getRequestURI.getPath != route) error(ex, 404, "not found")
      else try handler(ex)
      catch { case e: Throwable => error(ex, 500, e.getClass.getSimpleName) }

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&").toSeq
      .filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2); k -> v
      }.toMap

  /** SSE change feed: `/api/stream?last_id=-1&rounds=3&interval_ms=200`.
    * Bounded rounds (the reference loops forever; a bound keeps the handler
    * testable and the executor pool drainable) — a dashboard client simply
    * reconnects with its last seen id, which is also the reference's
    * reconnect semantics. At most [[MaxRounds]] rounds.
    */
  private def sseHandler(feed: Feed, stats: SseStats)(ex: HttpExchange): Unit = {
    val p = queryParams(ex)
    Seq("last_id", "rounds", "interval_ms").find(k => p.get(k).exists(_.toLongOption.isEmpty)) match {
      case Some(bad) => error(ex, 400, s"$bad must be an integer")
      case None =>
        def param(k: String, default: Long): Long = p.get(k).fold(default)(_.toLong)
        val rounds = math.min(param("rounds", 3L), MaxRounds.toLong).toInt
        val intervalMs = math.max(0L, math.min(param("interval_ms", 200L), 10000L))
        ex.getResponseHeaders.add("Content-Type", "text/event-stream")
        ex.getResponseHeaders.add("Cache-Control", "no-cache")
        ex.sendResponseHeaders(200, 0) // chunked
        stats.connections.incrementAndGet()
        // past the headers a failure can only end the stream early
        try {
          val os = ex.getResponseBody
          var cursor = param("last_id", -1L)
          var r = 0
          while (r < rounds) {
            val out = feed.round(cursor)
            out.foreach { case (_, json) => os.write(s"data: $json\n\n".getBytes(UTF_8)) }
            os.flush()
            out.lastOption.foreach(e => cursor = e._1)
            r += 1
            stats.rounds.incrementAndGet()
            if (r < rounds) Thread.sleep(intervalMs)
          }
          os.close()
        } catch { case _: Throwable => () }
        finally ex.close()
    }
  }

  /** The server's change feed, shared by its SSE connections: the first at
    * most [[FeedRows]] events with `event_id > from`, as (event_id, JSON) in
    * id order, from the last feed query, and the listing of the feed's files
    * read before that query. `roots` is null before the first query, then
    * the feed plan's file roots, or None when it reads something other than
    * files (then every round queries).
    */
  private final class Feed(spark: SparkSession, dir: String, queries: AtomicLong) {
    private var roots: Option[Seq[Path]] = _
    private var version: Listing.Files = _
    private var from = Long.MaxValue
    private var rows = IndexedSeq.empty[(Long, String)]
    private var complete = false

    /** The next at most [[Round]] events with `event_id > cursor`. */
    def round(cursor: Long): IndexedSeq[(Long, String)] = synchronized {
      if (!holds(cursor)) query(cursor)
      val start = rows.indexWhere(_._1 > cursor) match { case -1 => rows.size; case i => i }
      rows.slice(start, start + Round)
    }

    /** Whether the buffer holds the round after `cursor` for the files as
      * they are now: it starts at or before the cursor, and it holds a whole
      * round past it or every event past its start.
      */
    private def holds(cursor: Long): Boolean =
      roots != null && from <= cursor && (complete || rows.count(_._1 > cursor) >= Round) &&
        roots.exists(files => Listing.of(files) == version)

    private def query(cursor: Long): Unit = {
      val feed = graft.streaming.Ingest.changeFeed(spark, dir, cursor, FeedRows)
      if (roots == null) roots = ResultCache.fileRoots(feed.queryExecution.analyzed)
      version = roots.map(Listing.of).orNull
      // one collect: the event_id cursor and the JSON payload together
      rows = feed.select(col("event_id"), to_json(struct(feed.columns.toIndexedSeq.map(col): _*)))
        .collect().toIndexedSeq.map(r => (r.getLong(0), r.getString(1)))
      from = cursor
      complete = rows.size < FeedRows
      queries.incrementAndGet()
    }
  }
}
