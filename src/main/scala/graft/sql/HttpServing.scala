package graft.sql

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ExecutorService, Executors}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
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
  * result (Serving.toJson — the one documented collect edge). The SSE route
  * is never cached; it replays the reference's tail loop: poll events with
  * `event_id > last-seen` in id order (Ingest.changeFeed — min/max-pruned
  * scan + TakeOrderedAndProject), emit one `data:` frame per event, advance
  * the cursor, sleep, repeat. `/metrics` reports the cache's per-entry
  * requests, hits, misses and latency, and each active stream's last
  * progress.
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

  /** Start on 127.0.0.1:`port` (0 = ephemeral); returns the bound handle. */
  def start(spark: SparkSession, dir: String, port: Int = 0): Handle = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.setExecutor(Executors.newFixedThreadPool(4, r => {
      val t = new Thread(r, "graft-http"); t.setDaemon(true); t
    }))
    val cache = new ResultCache(spark, dir)
    Serving.endpoints.keys.foreach { route =>
      server.createContext(route, exact(route)(ex => respond(ex, 200, cache.body(route))))
    }
    server.createContext("/api/stream", exact("/api/stream")(sseHandler(spark, dir)))
    server.createContext("/health", exact("/health")(respond(_, 200, """{"status":"ok"}""")))
    server.createContext("/metrics", exact("/metrics")(ex =>
      respond(ex, 200, mapper.writeValueAsString(Map(
        "entries" -> cache.metrics,
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
    * reconnect semantics.
    */
  private def sseHandler(spark: SparkSession, dir: String)(ex: HttpExchange): Unit = {
    val p = queryParams(ex)
    Seq("last_id", "rounds", "interval_ms").find(k => p.get(k).exists(_.toLongOption.isEmpty)) match {
      case Some(bad) => error(ex, 400, s"$bad must be an integer")
      case None =>
        def param(k: String, default: Long): Long = p.get(k).fold(default)(_.toLong)
        val rounds = math.min(param("rounds", 3L), 100L).toInt
        val intervalMs = math.max(0L, math.min(param("interval_ms", 200L), 10000L))
        ex.getResponseHeaders.add("Content-Type", "text/event-stream")
        ex.getResponseHeaders.add("Cache-Control", "no-cache")
        ex.sendResponseHeaders(200, 0) // chunked
        // past the headers a failure can only end the stream early
        try {
          val os = ex.getResponseBody
          var last = param("last_id", -1L)
          var r = 0
          while (r < rounds) {
            val feed = graft.streaming.Ingest.changeFeed(spark, dir, last)
            // one collect: the event_id cursor and the JSON payload together
            val batch = feed.select(col("event_id"),
              to_json(struct(feed.columns.toIndexedSeq.map(col): _*)).as("j")).collect()
            batch.foreach(row => os.write(s"data: ${row.getString(1)}\n\n".getBytes(UTF_8)))
            os.flush()
            last = batch.lastOption.map(_.getLong(0)).getOrElse(last)
            r += 1
            if (r < rounds) Thread.sleep(intervalMs)
          }
          os.close()
        } catch { case _: Throwable => () }
        finally ex.close()
    }
  }
}
