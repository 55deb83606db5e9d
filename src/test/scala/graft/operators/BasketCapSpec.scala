package graft.operators

import scala.jdk.CollectionConverters._

import graft.{Catalog, SparkSpec}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.BusProbe
import org.apache.spark.sql.util.QueryExecutionListener

/** Pins the round-6 skew hardening of the pair self-joins (q15/q17):
  * per-key basket caps enforced by the bounded-heap TopKPerGroup operator.
  *
  * Three properties, each load-bearing:
  *   1. the capped Spark build still equals the (capped) oracle SQL — run
  *      through Spark SQL on the same views, a semantics pin independent of
  *      the driver's DuckDB pass;
  *   2. the cap actually truncates when a key exceeds it (the guard is real,
  *      not dead code above the observed maxima);
  *   3. the plan keeps the scale posture: map-side partial heap bounds the
  *      exchange, the self-join shares one exchange (ReusedExchange), and
  *      nothing degenerates to a cartesian product.
  *
  * All run on the distributed twin, where no input fits in one file split.
  */
class BasketCapSpec extends SparkSpec {

  private def registerViews(): Unit =
    for (t <- Seq("lineitem", "orders", "part"))
      distributed.read.parquet(s"${sf()}/$t.parquet").createOrReplaceTempView(t)

  test("q15/q17 match their capped oracle SQL run through Spark SQL") {
    registerViews()
    for (name <- Seq("q15_market_basket", "q17_product_affinity")) {
      val d = Catalog.byName(name)
      val got = d.build(distributed, sf()).collect().toSeq
      val exp = distributed.sql(d.oracle).collect().toSeq
      assert(got == exp, s"$name diverges from its oracle SQL")
    }
  }

  test("cap truncates a key that exceeds it") {
    import distributed.implicits._
    // one hot key with 10 items, one normal key with 2
    val df = ((1 to 10).map(i => (1L, i.toLong)) ++ Seq((2L, 5L), (2L, 9L)))
      .toDF("k", "item")
    val capped = Analytics.capBasket(df, "k", "item", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // keeps the cap-SMALLEST item ids (deterministic, matches the oracle's
    // row_number ORDER BY item) and leaves under-cap keys whole
    assert(capped == Set((1L, 1L), (1L, 2L), (1L, 3L), (2L, 5L), (2L, 9L)))
  }

  /** The final plan AQE ran: exchange reuse is decided at run time, so it
    * never shows in the plan before execution.
    */
  private def finalPlan(qe: QueryExecution): String = qe.executedPlan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan.toString
    case p => p.toString
  }

  /** The final plan of `name`, collected, and the final plans of the snaps
    * its build ran (q17 snaps its capped baskets, so the heap runs in the
    * snap's job).
    */
  private def plansOf(name: String): (String, Seq[String]) = {
    val snaps = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        if (fn == "localCheckpoint") snaps.add(finalPlan(qe))
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    distributed.listenerManager.register(l)
    try {
      val df = Catalog.byName(name).build(distributed, sf())
      df.collect()
      BusProbe.drain(distributed.sparkContext)
      (finalPlan(df.queryExecution), snaps.asScala.toSeq)
    } finally distributed.listenerManager.unregister(l)
  }

  test("capped pair-join plan: map-side heap, shared exchange, no cartesian") {
    // the capped frame's hash exchange, reused by the other self-join side
    val sharedExchange = """ReusedExchange \[[^\]]*\], Exchange hashpartitioning""".r
    for (name <- Seq("q15_market_basket", "q17_product_affinity")) {
      val (p, snaps) = plansOf(name)
      assert((p +: snaps).exists(_.contains("TopKPerGroupPartial")),
        s"$name lost the map-side heap (hot keys would ship whole):\n$p\n${snaps.mkString("\n")}")
      // the self-join must not rebuild its input twice via plain exchanges
      assert(sharedExchange.findFirstIn(p).isDefined,
        s"$name self-join does not share the capped frame's exchange:\n$p")
      for (q <- p +: snaps) {
        assert(!q.contains("CartesianProduct"), s"$name degenerated:\n$q")
        assert(!q.contains("BroadcastNestedLoopJoin"), s"$name degenerated:\n$q")
      }
    }
  }

  test("pair entries leave the session AQE partition conf untouched") {
    // round 11 removed the r9/r10 pair-mass reducer raise after a monotonic
    // A/B showed input-derived reducers beat every raise at sf3 AND sf10
    // (Analytics class comment; SCALE.md §0f.3). Pin the absence: building
    // q15/q17 must not mutate the session's initialPartitionNum.
    registerViews()
    val initKey = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    try {
      distributed.conf.set(initKey, "4")
      Catalog.byName("q15_market_basket").build(distributed, sf())
      Catalog.byName("q17_product_affinity").build(distributed, sf())
      assert(distributed.conf.get(initKey).toInt == 4,
        "a pair entry silently re-grew the per-job reducer raise")
    } finally distributed.conf.unset(initKey)
  }
}
