package graft.plans

import graft.{Catalog, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** Transparent MV routing: the routed plan must actually read the MV parquet
  * (not the base table), produce EXACTLY the base plan's rows, and decline
  * everything outside the provable envelope.
  */
class MvRoutingSpec extends graft.SparkSpec {

  private val dir = "/root/testdata/sf0.001"


  /** All file scans in the executed plan — recursing through AQE query
    * stages (QueryStageExec is a leaf whose wrapped plan `collect` skips).
    */
  private def allScans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => allScans(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => allScans(q.plan)
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(allScans)
  }

  private def scanPaths(df: DataFrame): Seq[String] =
    allScans(df.queryExecution.executedPlan)
      .flatMap(_.relation.location.rootPaths.map(_.toUri.getPath))

  private def assertRouted(df: DataFrame, mvName: String): Unit = {
    val paths = scanPaths(df)
    assert(paths.nonEmpty, "no file scans found")
    assert(paths.forall(_.contains(mvName)), s"expected only $mvName scans, got $paths")
  }

  private def assertUnrouted(df: DataFrame, baseFile: String): Unit = {
    val paths = scanPaths(df)
    assert(paths.exists(_.endsWith(baseFile)), s"expected base $baseFile scan, got $paths")
  }

  private def sameRows(a: DataFrame, b: DataFrame): Unit = {
    val ra = a.collect().map(_.toString).sorted
    val rb = b.collect().map(_.toString).sorted
    assert(ra.toSeq == rb.toSeq)
  }

  private def base(name: String): DataFrame = name match {
    case "type" =>
      Tables(spark, dir).events.groupBy(col("event_type"))
        .agg(count(lit(1)).as("events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
    case "daily" =>
      Tables(spark, dir).events.groupBy(to_date(col("ts")).as("event_date"))
        .agg(countDistinct(col("user_id")).as("active_users"), count(lit(1)).as("events"))
    case "hourly" =>
      Tables(spark, dir).events.groupBy(
          to_date(col("ts")).as("event_date"), hour(col("ts")).as("event_hour"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"))
    case "global" =>
      Tables(spark, dir).events.agg(count(lit(1)).as("total"))
    case "product" =>
      Tables(spark, dir).lineitem.groupBy(col("l_returnflag").as("status"))
        .agg(count(lit(1)).as("line_count"))
  }

  test("cascade registers the dir for routing") {
    graft.streaming.MvCascade.run(spark, dir)
    assert(MvRouting.rootFor(dir).isDefined)
  }

  test("type rollup routes to mv_hourly_events and matches the base result") {
    graft.streaming.MvCascade.run(spark, dir)
    val b = base("type")
    val r = MvRouting.route(b)
    assertRouted(r, "mv_hourly_events")
    sameRows(r, b)
  }

  test("distinct users routes to mv_daily_activity as a row count") {
    graft.streaming.MvCascade.run(spark, dir)
    val b = base("daily")
    val r = MvRouting.route(b)
    assertRouted(r, "mv_daily_activity")
    sameRows(r, b)
  }

  test("full hourly grain routes to mv_hourly_events incl. int-hour cast-back") {
    graft.streaming.MvCascade.run(spark, dir)
    val b = base("hourly")
    val r = MvRouting.route(b)
    assertRouted(r, "mv_hourly_events")
    sameRows(r, b)
  }

  test("global count routes (empty grouping)") {
    graft.streaming.MvCascade.run(spark, dir)
    val b = base("global")
    val r = MvRouting.route(b)
    assertRouted(r, "mv_hourly_events")
    sameRows(r, b)
  }

  test("lineitem status rollup routes to mv_product_revenue") {
    graft.streaming.MvCascade.run(spark, dir)
    val b = base("product")
    val r = MvRouting.route(b)
    assertRouted(r, "mv_product_revenue")
    sameRows(r, b)
  }

  test("key-only filter routes, rolled-up key constrained on the MV column") {
    graft.streaming.MvCascade.run(spark, dir)
    val b = Tables(spark, dir).events.filter(col("event_type") === "view")
      .groupBy(to_date(col("ts")).as("d")).agg(count(lit(1)).as("c"))
    val r = MvRouting.route(b)
    assertRouted(r, "mv_hourly_events")
    sameRows(r, b)
  }

  test("date filter routes AND partition-prunes the MV scan") {
    graft.streaming.MvCascade.run(spark, dir)
    val b = Tables(spark, dir).events
      .filter(col("event_type") === "purchase" &&
        to_date(col("ts")) >= lit(java.sql.Date.valueOf("2024-01-15")))
      .groupBy(to_date(col("ts")).as("event_date"))
      .agg(count(lit(1)).as("purchases"))
    val r = MvRouting.route(b)
    assertRouted(r, "mv_hourly_events")
    sameRows(r, b)
    // the MV is partitioned by event_date — the routed date predicate must
    // reach the scan as a partition filter (the 100 TB reason to route)
    val pf = allScans(r.queryExecution.executedPlan).flatMap(_.partitionFilters)
    assert(pf.nonEmpty, "expected partition filters on the routed MV scan")
  }

  test("hour-aligned timestamp range routes to mv_hourly_events AND prunes partitions") {
    graft.streaming.MvCascade.run(spark, dir)
    val b = Tables(spark, dir).events
      .filter(col("ts") >= lit("2024-01-10 06:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-20 18:00:00").cast("timestamp"))
      .groupBy(to_date(col("ts")).as("event_date"), hour(col("ts")).as("event_hour"))
      .agg(count(lit(1)).as("events"))
    val r = MvRouting.route(b)
    assertRouted(r, "mv_hourly_events")
    sameRows(r, b)
    // the hour bound rewrites to (date > D OR (date = D AND hour >= H)) plus
    // a redundant date-range conjunct — the latter must reach the scan as a
    // partition filter on the MV's event_date partitioning
    val pf = allScans(r.queryExecution.executedPlan).flatMap(_.partitionFilters)
    assert(pf.nonEmpty, "expected partition filters on the routed MV scan")
  }

  test("gap-session aggregate routes to mv_sessions AND prunes partitions") {
    graft.streaming.MvCascade.run(spark, dir)
    def q = Tables(spark, dir).events
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,2)")).as("v"))
      .filter(to_date(col("session_window.start")) >=
        lit(java.sql.Date.valueOf("2024-01-03")))
      .groupBy(to_date(col("session_window.start")).as("session_date"))
      .agg(count(lit(1)).as("sessions"),
        countDistinct(col("user_id")).as("users"),
        sum(col("n")).as("events"),
        sum(col("v")).cast("double").as("value"))
    val r = MvRouting.route(q)
    assertRouted(r, "mv_sessions")
    sameRows(r, q)
    // the midnight-aligned session_start bound must land on the MV's
    // session_date PARTITION column, not the session_start data column
    val pf = allScans(r.queryExecution.executedPlan).flatMap(_.partitionFilters)
    assert(pf.exists(_.references.exists(_.name == "session_date")),
      s"expected a session_date partition filter on the routed scan, got $pf")
  }

  test("gap-session aggregate regrouped through five chained derivations routes") {
    graft.streaming.MvCascade.run(spark, dir)
    // d0 = to_date(session_window.start), then d1..d5 each derived from the
    // one before: the grouping key is six aliases deep in the Project stack
    def q = {
      val sessions = Tables(spark, dir).events
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,2)")).as("v"))
        .withColumn("d0", to_date(col("session_window.start")))
      (1 to 5).foldLeft(sessions)((df, i) => df.withColumn(s"d$i", date_add(col(s"d${i - 1}"), 0)))
        .groupBy(col("d5").as("session_date"))
        .agg(count(lit(1)).as("sessions"),
          countDistinct(col("user_id")).as("users"),
          sum(col("n")).as("events"),
          sum(col("v")).cast("double").as("value"))
    }
    val r = MvRouting.route(q)
    assertRouted(r, "mv_sessions")
    sameRows(r, q)
  }

  test("session routing is path-spelling-proof (relative dir still routes)") {
    // r7 sf3 regression: HadoopFsRelation equality includes the path OPTION
    // string, so a relative caller dir never sameResult'ed the canon built
    // from the absolute rootPaths — pr08 silently fell back to the batch
    // plan, whose pushed-down session filter changes boundary rows
    val relDir = "../testdata/sf0.001" // resolves to `dir` from the repo cwd
    graft.streaming.MvCascade.run(spark, relDir)
    val q = Tables(spark, relDir).events
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,2)")).as("v"))
      .groupBy(to_date(col("session_window.start")).as("session_date"))
      .agg(count(lit(1)).as("sessions"),
        countDistinct(col("user_id")).as("users"),
        sum(col("n")).as("events"),
        sum(col("v")).cast("double").as("value"))
    assertRouted(MvRouting.route(q), "mv_sessions")
  }

  test("declines: session aggregate with a different gap (not the MV's 30 min)") {
    graft.streaming.MvCascade.run(spark, dir)
    val q = Tables(spark, dir).events
      .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,2)")).as("v"))
      .groupBy(to_date(col("session_window.start")).as("session_date"))
      .agg(count(lit(1)).as("sessions"),
        countDistinct(col("user_id")).as("users"),
        sum(col("n")).as("events"),
        sum(col("v")).cast("double").as("value"))
    assertUnrouted(MvRouting.route(q), "events.parquet")
  }

  test("declines: sub-hour timestamp bound (finer than the hourly grain)") {
    graft.streaming.MvCascade.run(spark, dir)
    val b = Tables(spark, dir).events
      .filter(col("ts") >= lit("2024-01-10 06:30:00").cast("timestamp"))
      .groupBy(to_date(col("ts")).as("d")).agg(count(lit(1)).as("c"))
    val r = MvRouting.route(b)
    assertUnrouted(r, "events.parquet")
    sameRows(r, b)
  }

  test("date EQUALITY filter routes (Spark unwraps it to a midnight range)") {
    graft.streaming.MvCascade.run(spark, dir)
    val b = Tables(spark, dir).events
      .filter(to_date(col("ts")) === lit(java.sql.Date.valueOf("2024-01-10")))
      .groupBy(col("event_type")).agg(count(lit(1)).as("c"))
    val r = MvRouting.route(b)
    assertRouted(r, "mv_hourly_events")
    sameRows(r, b)
  }

  test("declines: non-key filter above the scan") {
    graft.streaming.MvCascade.run(spark, dir)
    val b = Tables(spark, dir).events.filter(col("value") > 10)
      .groupBy(to_date(col("ts")).as("d")).agg(count(lit(1)).as("c"))
    assertUnrouted(MvRouting.route(b), "events.parquet")
  }

  test("declines: unsupported grouping expression") {
    graft.streaming.MvCascade.run(spark, dir)
    val b = Tables(spark, dir).events
      .groupBy(minute(col("ts")).as("m")).agg(count(lit(1)).as("c"))
    assertUnrouted(MvRouting.route(b), "events.parquet")
  }

  test("declines: raw double sum (not the exact decimal form)") {
    graft.streaming.MvCascade.run(spark, dir)
    // sum(double) re-associates; the MV holds exact decimal partials — the
    // rewrite must not claim bit-equality it can't prove
    val b = Tables(spark, dir).events
      .groupBy(col("event_type")).agg(sum(col("value")).as("v"))
    assertUnrouted(MvRouting.route(b), "events.parquet")
  }

  test("session-wide install (post-optimizer injection) routes too") {
    graft.streaming.MvCascade.run(spark, dir)
    val before = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = before :+ MvRoutingRule(spark)
    try {
      val b = base("type")
      assertRouted(b, "mv_hourly_events")
    } finally spark.experimental.extraOptimizations = before
  }

  test("country join aggregate routes to the denormalized MV (joins eliminated)") {
    graft.streaming.MvCascade.run(spark, dir)
    val t = Tables(spark, dir)
    val b = t.events
      .join(t.customer, col("user_id") === col("c_custkey"))
      .join(t.nation, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("country"), to_date(col("ts")).as("event_date"))
      .agg(count(lit(1)).as("events"))
    val r = MvRouting.route(b)
    assertRouted(r, "mv_country_stats")
    sameRows(r, b)
  }

  test("declines: join aggregate using a dimension column the MV lacks") {
    graft.streaming.MvCascade.run(spark, dir)
    val t = Tables(spark, dir)
    val b = t.events
      .join(t.customer, col("user_id") === col("c_custkey"))
      .join(t.nation, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("c"))
    assertUnrouted(MvRouting.route(b), "events.parquet")
  }

  test("gateway dialect SQL routes to the MV (sq07 end-to-end)") {
    graft.streaming.MvCascade.run(spark, dir)
    val df = graft.Catalog.byName("sq07_gateway_mv_routing").build(spark, dir)
    assertRouted(df, "mv_hourly_events")
  }

  test("unregistered dir never routes") {
    val b = Tables(spark, "/root/testdata/sf0.01").events
      .groupBy(col("event_type")).agg(count(lit(1)).as("c"))
    // no cascade has run for sf0.01 in THIS JVM — must stay on the base scan
    if (MvRouting.rootFor("/root/testdata/sf0.01").isEmpty)
      assertUnrouted(MvRouting.route(b), "events.parquet")
  }

  test("stale base table declines routing (freshness fingerprint)") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tmp = Files.createTempDirectory("graft_fresh_").toString
    for (t <- Seq("events", "lineitem", "customer", "nation"))
      Files.copy(Paths.get(dir, s"$t.parquet"), Paths.get(tmp, s"$t.parquet"),
        StandardCopyOption.COPY_ATTRIBUTES)
    graft.streaming.MvCascade.run(spark, tmp)
    def q = Tables(spark, tmp).events
      .groupBy(col("event_type")).agg(count(lit(1)).as("c"))
    assertRouted(MvRouting.route(q), "mv_hourly_events")
    // simulate new data landing in the base table after the cascade ran
    Files.setLastModifiedTime(Paths.get(tmp, "events.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 60000))
    assertUnrouted(MvRouting.route(q), "events.parquet")
  }

  test("declines: GLOBAL count(DISTINCT user_id) (would over-count via the daily grain)") {
    graft.streaming.MvCascade.run(spark, dir)
    // sum of daily actives ≠ distinct users: only a grouping that includes
    // the date key makes the row-count identity hold
    val b = Tables(spark, dir).events.agg(countDistinct(col("user_id")).as("users"))
    val r = MvRouting.route(b)
    assertUnrouted(r, "events.parquet")
    sameRows(r, b)
  }

  test("global count over an empty key-filter routes and returns 0 (not NULL)") {
    graft.streaming.MvCascade.run(spark, dir)
    // 'refund' is not an event type in the testdata: Sum over zero MV rows
    // is NULL where Count over zero base rows is 0 — the routed plan must
    // coalesce back to the Count identity
    val b = Tables(spark, dir).events.filter(col("event_type") === "refund")
      .agg(count(lit(1)).as("total"))
    val r = MvRouting.route(b)
    assertRouted(r, "mv_hourly_events")
    assert(r.collect().map(_.getLong(0)).toSeq == Seq(0L))
    sameRows(r, b)
  }

  test("declines: non-deterministic filter (sampling groups ≠ sampling events)") {
    graft.streaming.MvCascade.run(spark, dir)
    val b = Tables(spark, dir).events.filter(rand(7) > 0.5)
      .groupBy(to_date(col("ts")).as("d")).agg(count(lit(1)).as("c"))
    assertUnrouted(MvRouting.route(b), "events.parquet")
  }

  test("declines: non-UTC session (midnight alignment is zone-dependent)") {
    graft.streaming.MvCascade.run(spark, dir)
    val est = spark.newSession()
    est.conf.set("spark.sql.session.timeZone", "America/New_York")
    val b = graft.Tables(est, dir).events
      .filter(to_date(col("ts")) >= lit(java.sql.Date.valueOf("2024-01-15")))
      .groupBy(to_date(col("ts")).as("d")).agg(count(lit(1)).as("c"))
    assertUnrouted(MvRouting.route(b), "events.parquet")
  }

  test("base overwrite landing mid-cascade declines registration") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tmp = Files.createTempDirectory("graft_midrace_").toString
    for (t <- Seq("events", "lineitem", "customer", "nation"))
      Files.copy(Paths.get(dir, s"$t.parquet"), Paths.get(tmp, s"$t.parquet"),
        StandardCopyOption.COPY_ATTRIBUTES)
    // fingerprint taken before the (simulated) cascade starts…
    val pre = MvRouting.fingerprintNow(tmp)
    // …base table changes while the cascade runs…
    Files.setLastModifiedTime(Paths.get(tmp, "events.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 60000))
    // …so registration must decline: the MVs reflect an unknown mix
    MvRouting.register(tmp, "/tmp/graft_nonexistent_root", pre)
    assert(MvRouting.rootFor(tmp).isEmpty)
    // and with an honest (unchanged) snapshot it registers
    val pre2 = MvRouting.fingerprintNow(tmp)
    MvRouting.register(tmp, "/tmp/graft_nonexistent_root", pre2)
    assert(MvRouting.rootFor(tmp).isDefined)
  }

  test("date filter prunes the routed MV in BOTH ts flavors (explicit NTZ and tz-aware fixtures)") {
    // ADVICE r7: the routing tests exercise whichever ts layout the driver
    // testdata happens to contain, so one of the two date-rewrite branches
    // (tz-aware vs cast-unwrapped bare NTZ, MvRouting's onDateInput) is
    // silently untested in any given environment. Write BOTH flavors
    // explicitly and assert the routed plan prunes to the MV in each —
    // a future testdata-schema shift now changes which branch the OTHER
    // tests cover, but never leaves either branch uncovered.
    import java.nio.file.{Files, Paths, StandardCopyOption}
    def writeSingleFile(df: DataFrame, target: String): Unit = {
      val tmp = Files.createTempDirectory("graft_single_").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(target), StandardCopyOption.REPLACE_EXISTING)
    }
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    for (flavor <- Seq("timestamp_ntz", "timestamp")) {
      val tmp = Files.createTempDirectory(s"graft_flavor_").toString
      for (t <- Seq("lineitem", "customer", "nation"))
        Files.copy(Paths.get(dir, s"$t.parquet"), Paths.get(tmp, s"$t.parquet"),
          StandardCopyOption.COPY_ATTRIBUTES)
      writeSingleFile(
        Tables(spark, dir).events.withColumn("ts", col("ts").cast(flavor)),
        s"$tmp/events.parquet")
      // the fixture must really carry the intended physical type
      val physical = spark.read.parquet(s"$tmp/events.parquet").schema("ts").dataType
      val expected =
        if (flavor == "timestamp_ntz") org.apache.spark.sql.types.TimestampNTZType
        else org.apache.spark.sql.types.TimestampType
      assert(physical == expected, s"fixture wrote $physical, wanted $expected")
      graft.streaming.MvCascade.run(spark, tmp)
      def b = Tables(spark, tmp).events
        .filter(to_date(col("ts")) >= lit(java.sql.Date.valueOf("2024-01-15")))
        .groupBy(to_date(col("ts")).as("event_date"))
        .agg(count(lit(1)).as("c"))
      val r = MvRouting.route(b)
      withClue(s"$flavor fixture: ") {
        assertRouted(r, "mv_hourly_events")
        sameRows(r, b)
        val pf = allScans(r.queryExecution.executedPlan).flatMap(_.partitionFilters)
        assert(pf.nonEmpty, "expected partition filters on the routed MV scan")
      }
    }
  }

  test("pr catalog entries exist and build") {
    graft.streaming.MvCascade.run(spark, dir)
    // derived from MvRouting.defs so a newly added pr entry is covered
    // automatically (the hand-kept list had drifted: stopped at pr04)
    val names = MvRouting.defs.map(_.name)
    assert(names.nonEmpty && names.forall(_.startsWith("pr")))
    for (n <- names) {
      val d = Catalog.byName(n)
      assert(d.oracle.isDefined)
      val df = d.build(spark, dir)
      assert(df.count() > 0)
      // every pr entry must actually ROUTE: the executed plan may scan MV
      // parquet and dimension tables, but never the base fact tables
      val facts = scanPaths(df).filter(p =>
        p.endsWith("events.parquet") || p.endsWith("lineitem.parquet"))
      assert(facts.isEmpty, s"$n scans base fact table(s): $facts")
    }
  }
}
