package graft.sql

import graft.Catalog
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Serving layer (SURVEY.md §2.10, K4): the engine-side equivalent of the
  * reference's Flask dashboards — every REST endpoint's query is a named
  * catalog entry; this module maps endpoint routes to them and serializes
  * results to JSON. The `collect()` here is the documented serving edge
  * (post-LIMIT result sets only) — the single place driver-side
  * materialization is allowed.
  *
  * [[run]] and [[toJson]] always plan and run the entry. [[HttpServing]]
  * calls them only when its [[ResultCache]] misses: on an entry's first
  * request, after a file the entry reads has changed, and on every request
  * for an entry that reads anything but files. Any other request is answered
  * from the body the last run produced, with no query.
  */
object Serving {

  /** endpoint route (as exposed by app.py / app_interactive.py) → catalog query. */
  val endpoints: Map[String, String] = Map(
    "/api/stats"             -> "q18_kpi_snapshot",
    "/api/daily-events"      -> "q04_daily_events",
    "/api/event-types"       -> "q05_event_type_share",
    "/api/top-countries"     -> "q02_region_rollup",
    "/api/revenue-by-month"  -> "q06_revenue_by_month",
    "/api/top-products"      -> "q20_top_products",
    "/api/user-segments"     -> "q07_user_segments",
    "/api/conversion-funnel" -> "q08_conversion_funnel",
    "/api/hourly-activity"   -> "q10_hourly_activity",
    "/api/search"            -> "q11_search_ilike",
    "/api/live/metrics"      -> "q26_period_metrics",
    "/api/live/event-types"  -> "q05_event_type_share",
    "/api/live/timeline"     -> "q24_session_stats",
    "/api/live/top-users"    -> "q12_user_activity",
    "/api/live/conversion-rate" -> "q08_conversion_funnel",
  )

  /** Run an endpoint's query. */
  def run(route: String, spark: SparkSession, dir: String): DataFrame =
    Catalog.byName(endpoints(route)).build(spark, dir)

  /** Serialize a (small, already-limited) result to a JSON array string. */
  def toJson(df: DataFrame, maxRows: Int = 1000): String =
    df.limit(maxRows).toJSON.collect().mkString("[", ",", "]")

  /** Refreshable-MV pattern (ST10/K3): recompute a catalog query and
    * atomically overwrite its result table; any scheduler (cron, Airflow,
    * `ScheduledExecutorService`) drives the cadence.
    */
  def refresh(spark: SparkSession, dir: String, queryName: String, resultPath: String): Unit =
    Catalog.byName(queryName).build(spark, dir)
      .write.mode("overwrite").parquet(resultPath)

  /** `REFRESH EVERY n` (ST10 — 05-add-refreshable-mvs.sql:18,56,108,156,199):
    * drive [[refresh]] on a fixed cadence. Returns a handle; close to stop.
    * In production any external scheduler works identically — refresh is a
    * pure overwrite of the result table.
    */
  def scheduleRefresh(
      spark: SparkSession, dir: String, queryName: String,
      resultPath: String, periodMillis: Long): AutoCloseable = {
    val exec = java.util.concurrent.Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, s"graft-refresh-$queryName"); t.setDaemon(true); t
    }
    exec.scheduleAtFixedRate(
      () => try refresh(spark, dir, queryName, resultPath)
      catch { case e: Throwable => System.err.println(s"[refresh] $queryName: $e") },
      0, periodMillis, java.util.concurrent.TimeUnit.MILLISECONDS)
    // graceful stop: let an in-flight refresh finish its overwrite — an
    // interrupt mid-write would leave an uncommitted result table
    () => {
      exec.shutdown()
      exec.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
      ()
    }
  }
}
