package graft.plans

import scala.annotation.tailrec
import scala.collection.concurrent.TrieMap

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Count, Sum}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}

/** Transparent materialized-view routing — the projections-auto-selection
  * analog (reference: 03-add-projections.sql:18–99 + README.md:66, where
  * ClickHouse silently serves matching aggregations from a pre-aggregated
  * projection instead of the base table).
  *
  * The rule recognizes `Aggregate` plans over the raw `events` / `lineitem`
  * relations whose grouping keys and aggregate functions are derivable from
  * one of the cascade MVs ([[graft.streaming.MvCascade]]) and replans them
  * onto the MV parquet — count(*) becomes sum(mv.count), sum(measure)
  * becomes sum(mv.partial_sum), count(DISTINCT user_id) per date becomes
  * count(*) on the (date, user) grain. Output attribute exprIds are
  * preserved, so parent operators re-bind unchanged.
  *
  * 100 TB posture: this is the difference between scanning the event log and
  * scanning an MV that is orders of magnitude smaller (hourly grain: days ×
  * 24 × |event_types| rows). The MVs are maintained incrementally by the
  * streaming cascade, so the rewrite trades no freshness beyond the MV lag.
  *
  * Conservative-by-construction: the rewrite only fires when
  *   - the aggregate's child strips (one walker: Projects inlined, Filter
  *     conjuncts collected) to a registered base relation, the
  *     events ⋈ customer ⋈ nation join, or the gap-session aggregate —
  *     any other core declines, and so does a filter the MV cannot answer;
  *   - every grouping expression matches a canonical key form extracted from
  *     a reference plan compiled in the same session (identical analyzer /
  *     optimizer normalization, no hand-built expression trees);
  *   - every aggregate function matches a canonical form the target MV can
  *     answer; result types are restored with explicit casts.
  * Everything else is left untouched (MvRoutingSpec pins decline cases).
  */
object MvRouting {

  private def norm(dir: String): String =
    java.nio.file.Paths.get(dir).toAbsolutePath.normalize.toString

  /** Registration carries a freshness fingerprint (size + mtime of each base
    * table file at cascade time): routing must serve the MV only while the
    * MV provably reflects the base table — if the base file has changed
    * since the cascade ran, the rewrite silently declines rather than
    * returning stale aggregates (re-running the cascade re-registers).
    */
  private final case class Registration(root: String, fingerprints: Map[String, (Long, Long)])

  // base data dir -> cascade root + base-table fingerprints
  private val roots = TrieMap[String, Registration]()

  private def fingerprint(dir: String, table: String): Option[(Long, Long)] = {
    val p = java.nio.file.Paths.get(dir, s"$table.parquet")
    if (java.nio.file.Files.exists(p))
      Some((java.nio.file.Files.size(p),
        java.nio.file.Files.getLastModifiedTime(p).toMillis))
    else None
  }

  private val fingerprintTables = Seq("events", "lineitem", "customer", "nation")

  /** Snapshot the base-table fingerprints — taken by MvCascade BEFORE the
    * cascade starts reading, so a base overwrite landing mid-cascade is
    * caught at registration time instead of being fingerprinted as fresh.
    */
  def fingerprintNow(dir: String): Map[String, (Long, Long)] =
    fingerprintTables.flatMap(t => fingerprint(dir, t).map(t -> _)).toMap

  /** Called by MvCascade once a cascade run has completed for `dir`.
    * `pre` is the fingerprint snapshot taken before the cascade started; if
    * any base file changed while the cascade ran, the MVs reflect an unknown
    * mix of old and new data — registration is declined (and any stale prior
    * registration for the dir is dropped).
    */
  def register(dir: String, root: String, pre: Map[String, (Long, Long)]): Unit = {
    val now = fingerprintNow(dir)
    if (now == pre) roots.put(norm(dir), Registration(root, pre))
    else roots.remove(norm(dir))
  }

  def rootFor(dir: String): Option[String] = roots.get(norm(dir)).map(_.root)

  /** The cascade root, only while `table` (and, for the join MV, its
    * dimension inputs) are bit-unchanged since registration.
    */
  def freshRootFor(dir: String, tables: Seq[String]): Option[String] =
    roots.get(norm(dir)).filter { reg =>
      tables.forall(t => reg.fingerprints.get(t).exists(fp => fingerprint(dir, t).contains(fp)))
    }.map(_.root)

  /** Replan `df` with MV routing (scoped — same contract as
    * [[TopKPerGroup.withAutoRewrite]]): the optimized plan is rewritten once,
    * other frames in the session are untouched.
    */
  def route(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val rule = MvRoutingRule(spark)
    // Session-grain pre-pass on the ANALYZED plan — see sessionCanonFor's
    // scaladoc: after the optimizer, predicate pushdown has smeared session
    // filters onto raw events and the session subplan no longer exists.
    val analyzed = df.queryExecution.analyzed
    val pre = analyzed.transformUp {
      case agg: Aggregate => rule.trySessionRoute(agg).getOrElse(agg)
    }
    if (!pre.fastEquals(analyzed)) ColumnBridge.ofRows(spark, pre)
    else ColumnBridge.ofRows(spark, rule(df.queryExecution.optimizedPlan))
  }

  // ---- canonical expression forms, extracted from reference plans ----

  /** Key kinds an MV grain can expose. */
  sealed trait Key
  case object KDate extends Key
  case object KHour extends Key
  case object KType extends Key
  case object KUser extends Key
  case object KPart extends Key
  case object KFlag extends Key
  case object KCountry extends Key

  /** Aggregate kinds an MV column can answer. */
  sealed trait Agg
  case object ACount extends Agg
  case object AVal extends Agg
  case object AViews extends Agg
  case object AClicks extends Agg
  case object APurch extends Agg
  case object ADistinctUser extends Agg
  case object ARev extends Agg
  case object AQty extends Agg

  /** One MV's answering capability: parquet dir name, key -> column,
    * agg -> column. `distinctUserAsRows` marks the (date, user) grain where
    * count(DISTINCT user_id) is a row count.
    */
  final case class MvSpec(
      name: String,
      keys: Map[Key, String],
      aggs: Map[Agg, String],
      distinctUserAsRows: Boolean = false)

  val eventMvs: Seq[MvSpec] = Seq(
    // preference order: smallest grain first (hourly = days×24×|types| —
    // metadata-sized at any SF; daily/funnel = |users|×days)
    MvSpec("mv_hourly_events",
      keys = Map(KDate -> "event_date", KHour -> "event_hour", KType -> "event_type"),
      aggs = Map(ACount -> "event_count", AVal -> "val_dec")),
    MvSpec("mv_daily_activity",
      keys = Map(KDate -> "event_date", KUser -> "user_id"),
      aggs = Map(ACount -> "total_events", AVal -> "val_dec"),
      distinctUserAsRows = true),
    MvSpec("mv_user_funnel",
      keys = Map(KDate -> "event_date", KUser -> "user_id"),
      aggs = Map(ACount -> "total_events", AVal -> "val_dec",
        AViews -> "views", AClicks -> "clicks", APurch -> "purchases")))

  val productMvs: Seq[MvSpec] = Seq(
    MvSpec("mv_product_revenue",
      keys = Map(KPart -> "product_id", KFlag -> "status"),
      aggs = Map(ACount -> "order_count", ARev -> "rev_dec", AQty -> "qty_dec")))

  /** The denormalized join MV: events ⋈ customer ⋈ nation pre-aggregated by
    * (country, date, type) — routing onto it is the reference's "eliminate
    * JOINs at query time" property.
    */
  val countryMv: MvSpec =
    MvSpec("mv_country_stats",
      keys = Map(KCountry -> "country", KDate -> "event_date", KType -> "event_type"),
      aggs = Map(ACount -> "event_count", AVal -> "val_dec"))

  /** Canonical forms over one base relation: key expressions and aggregate
    * functions (several variants per kind where users spell the same thing
    * differently), all referencing `relation`'s output attributes.
    */
  final case class Canon(
      relation: LogicalRelation,
      keyForms: Seq[(Key, Expression)],
      aggForms: Seq[(Agg, AggregateFunction)]) {

    /** The same forms over another scan of the same table. */
    def onto(rel: LogicalRelation): Canon = {
      val rb = rebase(relation, rel)
      Canon(rel, keyForms.map { case (k, e) => (k, rb(e)) },
        aggForms.map { case (a, f) => (a, rb(f).asInstanceOf[AggregateFunction]) })
    }
  }

  /** Re-point attributes of `from` at the same-named attributes of `to`. */
  private def rebase(from: LogicalRelation, to: LogicalRelation): Expression => Expression = {
    val m = from.output.map(_.name).zip(to.output).toMap
    _.transformUp { case a: AttributeReference => m.getOrElse(a.name, a) }
  }

  private val canonCache = TrieMap[(String, String), Canon]()

  // Re-entrancy guard: building the canon forms optimizes reference frames;
  // with the rule installed session-wide that optimization re-enters the
  // rule, which would re-enter canonFor for the same (dir, table) before the
  // cache is populated — unbounded recursion. While building, the rule
  // declines (the reference frames themselves must never be routed anyway).
  private val building = new ThreadLocal[Boolean] { override def initialValue: Boolean = false }
  private[plans] def isBuilding: Boolean = building.get()

  /** Build the canonical forms by compiling reference aggregations through
    * the session's own analyzer+optimizer and flattening the result — the
    * candidate plan went through the identical pipeline, so `semanticEquals`
    * compares like with like (no hand-modeled Cast/timezone/fold shapes).
    */
  private[plans] def canonFor(spark: SparkSession, dir: String, table: String): Option[Canon] =
    canonCache.get((norm(dir), table)).orElse {
      building.set(true)
      try buildCanon(spark, dir, table)
      finally building.set(false)
    }

  /** Canonical gap-session plan per data dir: the EXACT aggregate the
    * mv_sessions sink materializes (session_window 30 min × user → count +
    * decimal value sum). User subplans are matched against it WHOLE via
    * `sameResult` — the CacheManager idiom — because session assignment is
    * not expressible as Project/Filter over the base relation, so the
    * key/agg-form extraction the flat MVs use cannot apply.
    *
    * ANALYZED, not optimized: session routing must run before the optimizer,
    * because predicate pushdown rewrites a session-level filter
    * (`to_date(session_window.start) >= d`) into a per-EVENT `ts` filter —
    * NOT semantics-preserving for sessionization (a session straddling the
    * bound gets re-formed from only its in-range events), and it destroys
    * the matchable subplan anyway. [[MvRouting.route]] runs the session
    * pre-pass on the analyzed plan for exactly this reason.
    */
  private val sessionCanonCache = TrieMap[String, LogicalPlan]()

  private[plans] def sessionCanonFor(spark: SparkSession, dir: String): LogicalPlan =
    sessionCanonCache.getOrElseUpdate(norm(dir), {
      building.set(true)
      try Tables(spark, dir).events
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("session_events"),
          sum(col("value").cast("decimal(18,2)")).as("val_dec"))
        .queryExecution.analyzed
      finally building.set(false)
    })

  private def buildCanon(spark: SparkSession, dir: String, table: String): Option[Canon] = {
      val t = Tables(spark, dir)
      val built = table match {
        case "events" =>
          val e = t.events
          val refs = Seq(
            e.groupBy(
              to_date(col("ts")).as("_kd"), hour(col("ts")).as("_kh"),
              col("event_type").as("_kt"), col("user_id").as("_ku"))
              .agg(
                count(lit(1)).as("_c"),
                sum(col("value").cast("decimal(18,2)")).as("_v"),
                sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("_vwL"),
                sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("_ckL"),
                sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("_puL"),
                sum(when(col("event_type") === "view", 1).otherwise(0)).as("_vwI"),
                sum(when(col("event_type") === "click", 1).otherwise(0)).as("_ckI"),
                sum(when(col("event_type") === "purchase", 1).otherwise(0)).as("_puI")),
            e.groupBy(to_date(col("ts")).as("_kd"))
              .agg(countDistinct(col("user_id")).as("_du")))
          extractCanon(refs, Map(
            "_c" -> ACount, "_v" -> AVal, "_vwL" -> AViews, "_ckL" -> AClicks,
            "_puL" -> APurch, "_vwI" -> AViews, "_ckI" -> AClicks,
            "_puI" -> APurch, "_du" -> ADistinctUser),
            Map("_kd" -> KDate, "_kh" -> KHour, "_kt" -> KType, "_ku" -> KUser))
        case "lineitem" =>
          val li = t.lineitem
          val refs = Seq(
            li.groupBy(col("l_partkey").as("_kp"), col("l_returnflag").as("_kf"))
              .agg(
                count(lit(1)).as("_c"),
                sum(col("l_extendedprice").cast("decimal(18,2)") *
                  (lit(1) - col("l_discount")).cast("decimal(18,2)")).as("_r1"),
                sum(col("l_extendedprice").cast("decimal(18,2)") *
                  (lit(1) - col("l_discount").cast("decimal(18,2)"))).as("_r2"),
                sum(col("l_quantity").cast("decimal(18,2)")).as("_q")))
          extractCanon(refs, Map(
            "_c" -> ACount, "_r1" -> ARev, "_r2" -> ARev, "_q" -> AQty),
            Map("_kp" -> KPart, "_kf" -> KFlag))
        case _ => None
      }
      built.foreach(c => canonCache.put((norm(dir), table), c))
      built
    }

  /** Flatten each reference frame's optimized plan and pull out the key /
    * aggregate expressions by alias name, rebased onto the FIRST frame's
    * relation so all canon forms share one attribute space.
    */
  private def extractCanon(
      refs: Seq[DataFrame],
      aggNames: Map[String, Agg],
      keyNames: Map[String, Key]): Option[Canon] = {
    val flat = refs.map(r => flatten(r.queryExecution.optimizedPlan))
    if (flat.exists(_.isEmpty)) return None
    val frames = flat.map(_.get)
    val baseRel = frames.head._2
    val keys = Seq.newBuilder[(Key, Expression)]
    val aggs = Seq.newBuilder[(Agg, AggregateFunction)]
    for ((entries, rel) <- frames; rb = rebase(rel, baseRel); (name, _, expr) <- entries) {
      keyNames.get(name).foreach(k => keys += k -> rb(expr))
      aggNames.get(name).foreach { a =>
        expr match {
          case ae: AggregateExpression =>
            aggs += a -> rb(ae.aggregateFunction).asInstanceOf[AggregateFunction]
          case _ => return None
        }
      }
    }
    Some(Canon(baseRel, keys.result(), aggs.result()))
  }

  /** An aggregate's outputs read through the Project/Filter stack down to
    * its relation; any other core declines.
    */
  private def flatten(plan: LogicalPlan): Option[(Seq[(String, ExprId, Expression)], LogicalRelation)] =
    plan match {
      case agg: Aggregate => strip(agg.child) match {
        case (rel: LogicalRelation, subst, _) => Some((outputs(agg, subst), rel))
        case _ => None
      }
      case _ => None
    }

  /** Strip the Project/Filter stack above a plan's core: returns the core,
    * every stripped alias (exprId -> child) and every filter conjunct.
    */
  private[plans] def strip(plan: LogicalPlan): (LogicalPlan, Map[ExprId, Expression], Seq[Expression]) = {
    @tailrec
    def loop(p: LogicalPlan, subst: Map[ExprId, Expression], conds: Seq[Expression]): (LogicalPlan, Map[ExprId, Expression], Seq[Expression]) =
      p match {
        case pr: Project =>
          loop(pr.child, subst ++ pr.projectList.collect { case al: Alias => al.exprId -> al.child }, conds)
        case f: Filter => loop(f.child, subst, conds ++ splitConjuncts(f.condition))
        case core => (core, subst, conds)
      }
    loop(plan, Map.empty, Nil)
  }

  /** `e` with every alias in `subst` inlined, to a fixpoint. ExprIds are
    * unique and an alias only refers to attributes below it, so the
    * substitution is acyclic and terminates without a pass cap.
    */
  private[plans] def inline(subst: Map[ExprId, Expression])(e: Expression): Expression =
    e.transformUp {
      case a: AttributeReference if subst.contains(a.exprId) => inline(subst)(subst(a.exprId))
    }

  /** (name, exprId, inlined expression) per aggregate output. */
  private[plans] def outputs(agg: Aggregate, subst: Map[ExprId, Expression]): Seq[(String, ExprId, Expression)] =
    agg.aggregateExpressions.map(e => (e.name, e.exprId, inline(subst)(stripAlias(e))))

  private[plans] def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  private[plans] def stripAlias(e: NamedExpression): Expression = e match {
    case al: Alias => al.child
    case other => other
  }

  // ---- catalog entries: every oracle runs on the BASE tables, the Spark
  // side is the ROUTED plan — a green row proves routed == base exactly ----

  import graft.QueryDef

  private def routed(spark: SparkSession, dir: String)(df: => DataFrame): DataFrame = {
    graft.streaming.MvCascade.run(spark, dir) // ensure the MVs exist + registry
    route(df)
  }

  val defs: Seq[QueryDef] = Seq(

    // ----- pr01: event-type rollup — routed onto mv_hourly_events (the
    // metadata-sized grain), count(*) -> sum(event_count).
    QueryDef.sql(
      "pr01_mv_route_type_rollup",
      """SELECT event_type, COUNT(*) AS events,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    ) { (spark, dir) =>
      routed(spark, dir) {
        Tables(spark, dir).events
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("events"),
            sum(col("value").cast("decimal(18,2)"))
              .cast("decimal(18,2)").cast("double").as("total_value"))
          .orderBy("event_type")
      }
    },

    // ----- pr02: daily active users — count(DISTINCT user_id) answered as a
    // ROW COUNT of mv_daily_activity's (date, user) grain; count/sum roll up.
    QueryDef.sql(
      "pr02_mv_route_daily_users",
      """SELECT CAST(ts AS DATE) AS event_date,
        |  COUNT(DISTINCT user_id) AS active_users, COUNT(*) AS events,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1 ORDER BY event_date""".stripMargin,
    ) { (spark, dir) =>
      routed(spark, dir) {
        Tables(spark, dir).events
          .groupBy(to_date(col("ts")).as("event_date"))
          .agg(countDistinct(col("user_id")).as("active_users"),
            count(lit(1)).as("events"),
            sum(col("value").cast("decimal(18,2)"))
              .cast("decimal(18,2)").cast("double").as("total_value"))
          .orderBy("event_date")
      }
    },

    // ----- pr03: funnel rollup by date — conditional sums routed onto
    // mv_user_funnel's pre-computed views/clicks/purchases columns.
    QueryDef.sql(
      "pr03_mv_route_funnel_rollup",
      """SELECT CAST(ts AS DATE) AS event_date,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS views,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
        |  COUNT(*) AS events
        |FROM events GROUP BY 1 ORDER BY event_date""".stripMargin,
    ) { (spark, dir) =>
      routed(spark, dir) {
        Tables(spark, dir).events
          .groupBy(to_date(col("ts")).as("event_date"))
          .agg(
            sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("views"),
            sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("clicks"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("purchases"),
            count(lit(1)).as("events"))
          .orderBy("event_date")
      }
    },

    // ----- pr05: FILTERED rollup — key-only predicates route too; the date
    // predicate lands on the MV's partition column (partition-pruned scan),
    // the type predicate on a rolled-up key column. MvRoutingSpec asserts the
    // pruning; the oracle proves filtered-routed == filtered-base.
    QueryDef.sql(
      "pr05_mv_route_filtered",
      """SELECT CAST(ts AS DATE) AS event_date, COUNT(*) AS purchases,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_value
        |FROM events
        |WHERE event_type = 'purchase' AND CAST(ts AS DATE) >= DATE '2024-01-15'
        |GROUP BY 1 ORDER BY event_date""".stripMargin,
    ) { (spark, dir) =>
      routed(spark, dir) {
        Tables(spark, dir).events
          .filter(col("event_type") === "purchase" &&
            to_date(col("ts")) >= lit(java.sql.Date.valueOf("2024-01-15")))
          .groupBy(to_date(col("ts")).as("event_date"))
          .agg(count(lit(1)).as("purchases"),
            sum(col("value").cast("decimal(18,2)"))
              .cast("decimal(18,2)").cast("double").as("total_value"))
          .orderBy("event_date")
      }
    },

    // ----- pr06: aggregate over events ⋈ customer ⋈ nation — routed onto
    // the DENORMALIZED mv_country_stats, eliminating both query-time joins
    // (the reference's headline MV property). Oracle recomputes the joins
    // from the raw tables.
    QueryDef.sql(
      "pr06_mv_route_country_join",
      """SELECT n_name AS country, COUNT(*) AS events,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_value
        |FROM events
        |JOIN customer ON user_id = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY country""".stripMargin,
    ) { (spark, dir) =>
      routed(spark, dir) {
        val t = Tables(spark, dir)
        t.events
          .join(t.customer, col("user_id") === col("c_custkey"))
          .join(t.nation, col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name").as("country"))
          .agg(count(lit(1)).as("events"),
            sum(col("value").cast("decimal(18,2)"))
              .cast("decimal(18,2)").cast("double").as("total_value"))
          .orderBy("country")
      }
    },

    // ----- pr07: HOUR-grain filtered rollup — hour-aligned timestamp bounds
    // route onto mv_hourly_events as (event_date, event_hour) range
    // predicates (date > D OR (date = D AND hour >= H)), keeping the scan
    // partition-pruned on event_date. Reference analog: projections serving
    // hour-bucketed dashboards (01-create-tables.sql:136–152).
    QueryDef.sql(
      "pr07_mv_route_hour_grain",
      """SELECT CAST(ts AS DATE) AS event_date, CAST(HOUR(ts) AS BIGINT) AS event_hour,
        |  COUNT(*) AS events,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 06:00:00' AND ts < TIMESTAMP '2024-01-20 18:00:00'
        |GROUP BY 1, 2 ORDER BY event_date, event_hour""".stripMargin,
    ) { (spark, dir) =>
      routed(spark, dir) {
        Tables(spark, dir).events
          .filter(col("ts") >= lit("2024-01-10 06:00:00").cast("timestamp") &&
            col("ts") < lit("2024-01-20 18:00:00").cast("timestamp"))
          .groupBy(to_date(col("ts")).as("event_date"), hour(col("ts")).as("event_hour"))
          .agg(count(lit(1)).as("events"),
            sum(col("value").cast("decimal(18,2)"))
              .cast("decimal(18,2)").cast("double").as("total_value"))
          // canonical-type rule: hour() is INT — widen AFTER the aggregate so
          // the routing rule still sees the canonical int-typed _kh grouping key
          .select(col("event_date"), col("event_hour").cast("long").as("event_hour"),
            col("events"), col("total_value"))
          .orderBy("event_date", "event_hour")
      }
    },

    // ----- pr08: GAP-SESSION aggregate — the streaming session MV completes
    // the MV story: session assignment (30-min gaps, the reference
    // generator's construction — stream_data_realtime.py:137) is maintained
    // by the cascade's session_window stream, and this daily rollup over the
    // session relation routes onto the row-per-session mv_sessions with the
    // date bound pruning its session_date partitions (MvRoutingSpec asserts
    // both). Oracle replays the gap construction from raw events (st03's
    // lag/cumsum idiom) — a hash match proves streaming sessionization +
    // routing == batch sessions exactly.
    QueryDef.sql(
      "pr08_mv_route_gap_sessions",
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
        |  SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS v
        |  FROM y GROUP BY user_id, sess_no)
        |SELECT CAST(session_start AS DATE) AS session_date,
        |  COUNT(*) AS sessions,
        |  COUNT(DISTINCT user_id) AS session_users,
        |  CAST(SUM(n) AS BIGINT) AS session_events,
        |  CAST(CAST(SUM(v) AS DECIMAL(18,2)) AS DOUBLE) AS session_value
        |FROM sess
        |WHERE CAST(session_start AS DATE) >= DATE '2024-01-15'
        |GROUP BY 1 ORDER BY session_date""".stripMargin,
    ) { (spark, dir) =>
      routed(spark, dir) {
        Tables(spark, dir).events
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).as("v"))
          .filter(to_date(col("session_window.start")) >=
            lit(java.sql.Date.valueOf("2024-01-15")))
          .groupBy(to_date(col("session_window.start")).as("session_date"))
          .agg(count(lit(1)).as("sessions"),
            countDistinct(col("user_id")).as("session_users"),
            sum(col("n")).as("session_events"),
            sum(col("v")).cast("decimal(18,2)").cast("double").as("session_value"))
          .orderBy("session_date")
      }
    },

    // ----- pr04: return-flag revenue rollup over lineitem — routed onto
    // mv_product_revenue, rolling product_id up into status.
    QueryDef.sql(
      "pr04_mv_route_product_rollup",
      """SELECT l_returnflag AS status, COUNT(*) AS line_count,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |FROM lineitem GROUP BY 1 ORDER BY status""".stripMargin,
    ) { (spark, dir) =>
      routed(spark, dir) {
        Tables(spark, dir).lineitem
          .groupBy(col("l_returnflag").as("status"))
          .agg(count(lit(1)).as("line_count"),
            sum(col("l_extendedprice").cast("decimal(18,2)") *
              (lit(1) - col("l_discount")).cast("decimal(18,2)"))
              .cast("double").as("revenue"),
            sum(col("l_quantity").cast("decimal(18,2)"))
              .cast("double").as("total_qty"))
          .orderBy("status")
      }
    },
  )
}

/** The rule proper. Installable session-wide (post-optimizer injection) or
  * scoped via [[MvRouting.route]]. No-op until a cascade registers a root.
  */
case class MvRoutingRule(spark: SparkSession) extends Rule[LogicalPlan] {
  import MvRouting._

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg: Aggregate =>
      tryRoute(agg).orElse(tryCountryRoute(agg)).orElse(trySessionRoute(agg)).getOrElse(agg)
  }

  private type Known = PartialFunction[Expression, Option[Expression]]

  /** Rewrite rules for one MV: `known` maps the nodes it can answer (None =
    * decline); a plain attribute it does not know declines, and any other
    * node is rebuilt from its rewritten children. Non-deterministic nodes
    * always decline: evaluated per MV row instead of per base row they
    * would sample groups instead of events.
    */
  private def rebuild(known: Known)(e: Expression): Option[Expression] =
    if (!e.deterministic) None
    else known.applyOrElse(e, (x: Expression) => x match {
      case _: Attribute => None
      case _ if x.children.isEmpty => Some(x)
      case _ => sequence(x.children.map(rebuild(known))).map(x.withNewChildren)
    })

  /** A base expression equal to one of `keys` reads that MV column, cast
    * back to the base expression's type.
    */
  private def onKey(keys: Seq[(Expression, Attribute)]): Known =
    Function.unlift((e: Expression) => keys.collectFirst {
      case (g, attr) if e.semanticEquals(g) =>
        Some(if (attr.dataType == g.dataType) attr else Cast(attr, g.dataType))
    })

  private def sequence[T](xs: Seq[Option[T]]): Option[Seq[T]] =
    if (xs.exists(_.isEmpty)) None else Some(xs.flatten)

  /** The analyzed scan of one MV and its columns by name. */
  private def mvScan(root: String, name: String): (LogicalPlan, Map[String, Attribute]) = {
    val scan = spark.read.parquet(s"$root/$name").queryExecution.analyzed
    (scan, scan.output.map(a => a.name -> a).toMap)
  }

  /** `Aggregate` over the MV scan, filtered by `conds` when there are any. */
  private def aggregateOver(
      scan: LogicalPlan,
      conds: Seq[Expression],
      groupExprs: Seq[Expression],
      outputs: Seq[NamedExpression]): LogicalPlan =
    Aggregate(groupExprs, outputs, if (conds.isEmpty) scan else Filter(conds.reduce(And), scan))

  /** The cascade materialized its date columns under a UTC session; any
    * other zone draws different day boundaries, so date rewrites decline.
    */
  private def utcSession: Boolean = spark.sessionState.conf.sessionLocalTimeZone == "UTC"

  /** Route an aggregate over the gap-session relation (events sessionized by
    * `session_window(ts, '30 minutes') × user_id`) onto the row-per-session
    * mv_sessions parquet. Runs on ANALYZED plans (via [[MvRouting.route]]'s
    * pre-pass — see sessionCanonFor's scaladoc for why pre-optimizer). The
    * session subplan is matched WHOLE against the canonical analyzed plan
    * via `sameResult`. Because the MV is row-identical to the session
    * relation (one row per session, no pre-aggregation), ANY deterministic
    * expression over its four outputs maps 1:1 — including DISTINCT
    * aggregates — with no re-aggregation semantics to prove.
    * `to_date(session_window.start)` maps onto the `session_date` PARTITION
    * column, so date bounds prune the routed scan once the rewritten plan
    * goes back through the optimizer.
    */
  private[plans] def trySessionRoute(agg: Aggregate): Option[LogicalPlan] = {
    if (MvRouting.isBuilding) return None
    val (core, subst, conds) = strip(agg.child)

    // the core must BE the canonical session aggregate over a registered
    // events table (sameResult declines pruned/reordered variants — safe)
    val evDir = core.collect { case r: LogicalRelation => r } match {
      case Seq(rel) => tableOf(rel).collect { case (dir, "events") => dir }
      case _ => None
    }
    // HadoopFsRelation equality includes the `path` OPTION string, which
    // preserves the caller's spelling — a RELATIVE dir (e.g. Verify invoked
    // with target/testdata/sf3) never equals the canon's absolute one even
    // though location.rootPaths (always absolute) are identical. Compare
    // modulo the options map; the FileIndex equality still pins the files.
    // Found by the r7 sf3 oracle drive: the decline fell pr08 back to the
    // batch plan, whose pushed-down session filter changed boundary rows.
    def dropPathOpts(p: LogicalPlan): LogicalPlan = p.transformUp {
      case lr: LogicalRelation =>
        lr.relation match {
          case h: HadoopFsRelation =>
            lr.copy(relation = h.copy(options = Map.empty)(h.sparkSession))
          case _ => lr
        }
    }
    evDir.flatMap { dir =>
      if (!dropPathOpts(core).sameResult(dropPathOpts(MvRouting.sessionCanonFor(spark, dir))))
        return None
      if (core.output.length != 4) return None
      MvRouting.freshRootFor(dir, Seq("events")).flatMap { root =>
        val Seq(sw, uid, cnt, vd) = core.output
        val (scan, mvAttr) = mvScan(root, "mv_sessions")
        val (sessionDate, sessionStart, sessionEnd) =
          (mvAttr("session_date"), mvAttr("session_start"), mvAttr("session_end"))

        def isSwField(e: Expression, ord: Int): Boolean = e match {
          case GetStructField(a: AttributeReference, o, _) => a.exprId == sw.exprId && o == ord
          case _ => false
        }
        val rewrite = rebuild {
          // to_date(session_window.start) → the session_date PARTITION column
          // (analyzed form: ParseToDate; post-analysis casts handled too)
          case pd: ParseToDate if utcSession && pd.format.isEmpty && isSwField(pd.left, 0) =>
            Some(sessionDate)
          case Cast(t, DateType, _, _) if utcSession && isSwField(t, 0) => Some(sessionDate)
          case t if isSwField(t, 0) => Some(sessionStart)
          case t if isSwField(t, 1) => Some(sessionEnd)
          case IsNotNull(a: AttributeReference) if a.exprId == sw.exprId =>
            Some(IsNotNull(sessionStart))
          case a: AttributeReference if a.exprId == uid.exprId => Some(mvAttr("user_id"))
          case a: AttributeReference if a.exprId == cnt.exprId => Some(mvAttr("session_events"))
          case a: AttributeReference if a.exprId == vd.exprId => Some(mvAttr("val_dec"))
        } _

        for {
          newGe <- sequence(agg.groupingExpressions.map(g => rewrite(inline(subst)(g))))
          newAe <- sequence(outputs(agg, subst).map { case (name, id, e) =>
            rewrite(e).map(r => Alias(r, name)(exprId = id)) })
          newConds <- sequence(conds.map(c => rewrite(inline(subst)(c))))
        } yield aggregateOver(scan, newConds, newGe, newAe)
      }
    }
  }

  /** Route an aggregate over `events ⋈ customer ⋈ nation` (left-deep inner
    * joins on user_id=c_custkey, c_nationkey=n_nationkey) onto the
    * denormalized mv_country_stats — the query-time-join elimination the
    * reference gets from denormalized MV columns. Dimension columns other
    * than n_name (exposed as the country key), non-inner joins, extra join
    * conditions, and dimension-side filters beyond the join-implied
    * isnotnull(join key) all decline.
    */
  private def tryCountryRoute(agg: Aggregate): Option[LogicalPlan] = {
    if (MvRouting.isBuilding) return None

    def relOf(p: LogicalPlan, table: String): Option[(LogicalRelation, String)] = p match {
      case rel: LogicalRelation => tableOf(rel).collect { case (dir, t) if t == table => (rel, dir) }
      case _ => None
    }

    val (core, s0, f0) = strip(agg.child)
    core match {
      case Join(l1, r1, Inner, Some(outerCond), _) =>
        val (lc, ls, lf) = strip(l1)
        val (rc, rs, rf) = strip(r1)
        // nation on one side, Join(events, customer) on the other
        val natSide = relOf(lc, "nation").map(n => (n, rc)).orElse(
          relOf(rc, "nation").map(n => (n, lc)))
        natSide.flatMap { case ((natRel, natDir), innerCore) =>
          innerCore match {
            case Join(l2, r2, Inner, Some(innerCond), _) =>
              val (lc2, ls2, lf2) = strip(l2)
              val (rc2, rs2, rf2) = strip(r2)
              val evCust = relOf(lc2, "events").flatMap(e =>
                relOf(rc2, "customer").map(c => (e, c))).orElse(
                relOf(rc2, "events").flatMap(e =>
                  relOf(lc2, "customer").map(c => (e, c))))
              evCust.flatMap { case ((evRel, evDir), (custRel, custDir)) =>
                if (evDir != natDir || evDir != custDir) return None
                // the join MV depends on the dimension tables too
                MvRouting.freshRootFor(evDir, Seq("events", "customer", "nation")).flatMap { root =>
                  canonFor(spark, evDir, "events").flatMap { canonRaw =>
                    val subst = s0 ++ ls ++ rs ++ ls2 ++ rs2
                    val sub = inline(subst) _
                    def attr(rel: LogicalRelation, n: String): Option[Attribute] =
                      rel.output.find(_.name == n)
                    (attr(evRel, "user_id"), attr(custRel, "c_custkey"),
                      attr(custRel, "c_nationkey"), attr(natRel, "n_nationkey"),
                      attr(natRel, "n_name")) match {
                      case (Some(userId), Some(cCust), Some(cNat), Some(nNat), Some(nName))
                        if isEq(sub(innerCond), userId, cCust) &&
                          isEq(sub(outerCond), cNat, nNat) =>
                        // dimension-side / inferred filters: the join-implied
                        // isnotnull(join key) is a no-op (the MV's inner join
                        // already dropped those rows); anything else must
                        // survive key rewriting or decline in tryMv
                        val joinKeyIds: Set[ExprId] =
                          Set(userId, cCust, cNat, nNat).map(_.exprId)
                        val conds = (f0 ++ lf ++ rf ++ lf2 ++ rf2).map(sub).filterNot {
                          case IsNotNull(a: AttributeReference) => joinKeyIds.contains(a.exprId)
                          case _ => false
                        }
                        val canon = canonRaw.onto(evRel)
                        tryMv(countryMv, root, agg.groupingExpressions.map(sub), conds,
                          outputs(agg, subst),
                          canon.copy(keyForms = canon.keyForms :+ (KCountry -> (nName: Expression))))
                      case _ => None
                    }
                  }
                }
              }
            case _ => None
          }
        }
      case _ => None
    }
  }

  private def isEq(cond: Expression, a: Attribute, b: Attribute): Boolean = cond match {
    case EqualTo(x: AttributeReference, y: AttributeReference) =>
      (x.exprId == a.exprId && y.exprId == b.exprId) ||
        (x.exprId == b.exprId && y.exprId == a.exprId)
    case _ => false
  }

  private def tryRoute(agg: Aggregate): Option[LogicalPlan] = {
    if (MvRouting.isBuilding) return None
    strip(agg.child) match {
      case (rel: LogicalRelation, subst, conds) =>
        baseTableOf(rel).flatMap { case (dir, table, root) =>
          canonFor(spark, dir, table).flatMap { canonRaw =>
            val canon = canonRaw.onto(rel)
            val groupExprs = agg.groupingExpressions.map(inline(subst))
            val mvs = if (table == "events") eventMvs else productMvs
            mvs.view.flatMap(mv => tryMv(mv, root, groupExprs, conds.map(inline(subst)),
              outputs(agg, subst), canon)).headOption
          }
        }
      case _ => None
    }
  }

  /** (dir, table) for any single-parquet-file relation. */
  private def tableOf(rel: LogicalRelation): Option[(String, String)] =
    rel.relation match {
      case h: HadoopFsRelation =>
        h.location.rootPaths.headOption.flatMap { p =>
          val path = p.toUri.getPath
          val i = path.lastIndexOf('/')
          val (parent, file) = (path.substring(0, math.max(i, 0)), path.substring(i + 1))
          if (file.endsWith(".parquet")) Some((parent, file.stripSuffix(".parquet")))
          else None
        }
      case _ => None
    }

  /** (dir, table, cascadeRoot) when `rel` scans a registered, still-fresh
    * base table.
    */
  private def baseTableOf(rel: LogicalRelation): Option[(String, String, String)] =
    tableOf(rel).flatMap { case (parent, table) =>
      if (table == "events" || table == "lineitem")
        MvRouting.freshRootFor(parent, Seq(table)).map(root => (parent, table, root))
      else None
    }

  private def tryMv(
      mv: MvSpec,
      root: String,
      groupExprs: Seq[Expression],
      conds: Seq[Expression],
      entries: Seq[(String, ExprId, Expression)],
      canon: Canon): Option[LogicalPlan] = {
    val Canon(_, keyForms, aggForms) = canon
    val (scan, mvAttr) = mvScan(root, mv.name)

    def keyOf(e: Expression): Option[Key] =
      keyForms.collectFirst { case (k, form) if e.semanticEquals(form) => k }

    // every grouping expression must be a key this MV exposes
    val keyMap: Seq[(Expression, Attribute)] = sequence(groupExprs.map { g =>
      keyOf(g).flatMap(k => mv.keys.get(k)).map(c => g -> mvAttr(c))
    }).getOrElse(return None)
    val userGrouped = groupExprs.exists(g => keyOf(g).contains(KUser))
    val dateGrouped = groupExprs.exists(g => keyOf(g).contains(KDate))

    // ALL keys this MV exposes (not just the grouped ones) — filters may
    // constrain a key that is rolled up, e.g. event_type='purchase' grouped
    // by date only: MV groups are key-homogeneous, so filtering MV rows on
    // the key column is exactly filtering base rows on the key expression
    val mvKeyMap: Seq[(Expression, Attribute)] =
      keyForms.flatMap { case (k, form) => mv.keys.get(k).map(c => form -> mvAttr(c)) }

    // the timestamp conversion feeding the date key (Spark's cast-unwrapping
    // rewrites `to_date(ts) >= d` into `ts_conv >= timestamp(d 00:00)`),
    // and the date key's MV attribute
    val dateInput: Option[Expression] = keyForms.collectFirst {
      case (KDate, Cast(c, DateType, _, _)) => c
    }
    val dateAttr: Option[Attribute] = mv.keys.get(KDate).map(mvAttr)
    val hourAttr: Option[Attribute] = mv.keys.get(KHour).map(mvAttr)
    val MicrosPerDay = 86400000000L
    val MicrosPerHour = 3600000000L
    // The raw parquet `ts` column may be TIMESTAMP (tz-aware) or
    // TIMESTAMP_NTZ (driver-generated testdata is tz-less timestamp[us]).
    // In the NTZ case the date key form is to_date(cast(ts AS timestamp)),
    // and Spark's cast-unwrapping rewrites `to_date(...) >= d` into a bound
    // on the BARE NTZ attribute with a TIMESTAMP_NTZ literal. Under the UTC
    // session (already required by every case below, whose midnight test
    // us % MicrosPerDay == 0 is only valid on the UTC day boundary) the NTZ
    // micros denote the same instant as the LTZ micros, so match either
    // flavor.
    def onDateInput(t: Expression): Boolean = dateInput.exists { di =>
      t.semanticEquals(di) || (di match {
        case Cast(c, TimestampType, _, _) => t.semanticEquals(c)
        case _ => false
      })
    }
    object TsMicros {
      def unapply(e: Expression): Option[Long] = e match {
        case Literal(us: Long, TimestampType | TimestampNTZType) => Some(us)
        case _ => None
      }
    }
    def dayLit(us: Long): Expression = Literal((us / MicrosPerDay).toInt, DateType)

    // filter conjuncts must be expressible purely over MV keys
    val condCases: Known = {
      case _: AggregateExpression => None
      // midnight-aligned timestamp bounds on the date key's input are exact
      // at date grain; anything finer-grained than a day declines
      case GreaterThanOrEqual(t, TsMicros(us))
        if utcSession && onDateInput(t) && us >= 0 && us % MicrosPerDay == 0 =>
        dateAttr.map(a => GreaterThanOrEqual(a, dayLit(us)))
      case LessThan(t, TsMicros(us))
        if utcSession && onDateInput(t) && us >= 0 && us % MicrosPerDay == 0 =>
        dateAttr.map(a => LessThan(a, dayLit(us)))
      // HOUR-aligned bounds route onto MVs exposing an hour key (the hourly
      // grain): ts >= D H:00 ⟺ date > D OR (date = D AND hour >= H). Every
      // hourly MV row sits entirely inside or outside an hour-aligned bound,
      // so membership is exact. The redundant date-range conjunct keeps the
      // predicate partition-prunable on the MV's event_date partitioning.
      case GreaterThanOrEqual(t, TsMicros(us))
        if utcSession && onDateInput(t) && us >= 0 && us % MicrosPerHour == 0 =>
        for { da <- dateAttr; ha <- hourAttr } yield {
          val d = dayLit(us)
          val h = Literal(((us % MicrosPerDay) / MicrosPerHour).toInt)
          And(GreaterThanOrEqual(da, d),
            Or(GreaterThan(da, d), And(EqualTo(da, d), GreaterThanOrEqual(ha, h))))
        }
      case LessThan(t, TsMicros(us))
        if utcSession && onDateInput(t) && us >= 0 && us % MicrosPerHour == 0 =>
        for { da <- dateAttr; ha <- hourAttr } yield {
          val d = dayLit(us)
          val h = Literal(((us % MicrosPerDay) / MicrosPerHour).toInt)
          And(LessThanOrEqual(da, d),
            Or(LessThan(da, d), And(EqualTo(da, d), LessThan(ha, h))))
        }
      // the optimizer infers isnotnull(raw) from null-intolerant key
      // predicates (e.g. to_date(ts) >= d infers isnotnull(ts)); every key
      // form here is null-preserving in its single input (to_date/hour/
      // identity), so isnotnull(raw) == isnotnull(key column)
      case IsNotNull(a: AttributeReference)
        if mvKeyMap.exists(_._1.references.contains(a)) =>
        mvKeyMap.collectFirst {
          case (form, attr) if form.references.contains(a) => IsNotNull(attr)
        }
    }
    val rewriteCond = rebuild(condCases orElse onKey(mvKeyMap)) _
    val newConds = sequence(conds.map(rewriteCond)).getOrElse(return None)

    def mapAgg(ae: AggregateExpression): Option[Expression] = {
      if (ae.filter.nonEmpty) return None
      val mapped: Option[Expression] =
        if (ae.isDistinct) ae.aggregateFunction match {
          // count(DISTINCT user_id) grouped EXACTLY by the date key == row
          // count of the (date, user) grain. The grouping must include the
          // date key: with an empty grouping the row count is the SUM of
          // daily actives, which over-counts every user active on >1 date.
          case Count(Seq(u)) if mv.distinctUserAsRows && !userGrouped && dateGrouped &&
            keyForms.exists { case (k, f) => k == KUser && u.semanticEquals(f) } =>
            Some(Count(Literal(1)).toAggregateExpression())
          case _ => None
        }
        else ae.aggregateFunction match {
          case Count(Seq(Literal(1, _))) =>
            // global (no GROUP BY) count: Sum over zero MV rows is NULL where
            // Count over zero base rows is 0 — coalesce restores the identity
            mv.aggs.get(ACount).map { c =>
              val s: Expression = Sum(mvAttr(c)).toAggregateExpression()
              if (groupExprs.isEmpty) Coalesce(Seq(s, Literal(0L))) else s
            }
          case f =>
            aggForms.collectFirst {
              case (kind, form) if f.semanticEquals(form) && mv.aggs.contains(kind) =>
                Sum(mvAttr(mv.aggs(kind))).toAggregateExpression()
            }
        }
      mapped.map(e => if (e.dataType == ae.dataType) e else Cast(e, ae.dataType))
    }

    // rewrite one output expression; None = this MV cannot answer it
    val aggCases: Known = { case ae: AggregateExpression => mapAgg(ae) }
    val rewriteExpr = rebuild(aggCases orElse onKey(keyMap)) _

    sequence(entries.map { case (name, id, expr) =>
      rewriteExpr(expr).map(ne => Alias(ne, name)(exprId = id))
    }).map(newAe => aggregateOver(scan, newConds, keyMap.map(_._2).distinct, newAe))
  }
}
