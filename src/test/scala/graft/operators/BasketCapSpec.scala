package graft.operators

import scala.jdk.CollectionConverters._

import graft.{Catalog, SparkSpec}
import org.apache.spark.sql.execution.QueryExecution
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
  */
class BasketCapSpec extends SparkSpec {

  private def registerViews(): Unit =
    for (t <- Seq("lineitem", "orders", "part"))
      spark.read.parquet(s"${sf()}/$t.parquet").createOrReplaceTempView(t)

  test("q15/q17 match their capped oracle SQL run through Spark SQL") {
    registerViews()
    for (name <- Seq("q15_market_basket", "q17_product_affinity")) {
      val d = Catalog.byName(name)
      val got = d.build(spark, sf()).collect().toSeq
      val exp = spark.sql(d.oracle.get).collect().toSeq
      assert(got == exp, s"$name diverges from its oracle SQL")
    }
  }

  test("cap truncates a key that exceeds it") {
    import spark.implicits._
    // one hot key with 10 items, one normal key with 2
    val df = ((1 to 10).map(i => (1L, i.toLong)) ++ Seq((2L, 5L), (2L, 9L)))
      .toDF("k", "item")
    val capped = Analytics.capBasket(df, "k", "item", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // keeps the cap-SMALLEST item ids (deterministic, matches the oracle's
    // row_number ORDER BY item) and leaves under-cap keys whole
    assert(capped == Set((1L, 1L), (1L, 2L), (1L, 3L), (2L, 5L), (2L, 9L)))
  }

  /** The executed plan of `name` and the plans of the snaps its build ran
    * (q17 snaps its capped baskets, so the heap runs in the snap's job).
    */
  private def plansOf(name: String): (String, Seq[String]) = {
    val snaps = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        if (fn == "localCheckpoint") snaps.add(qe.executedPlan.toString)
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val p = Catalog.byName(name).build(spark, sf()).queryExecution.executedPlan.toString
      BusProbe.drain(spark.sparkContext)
      (p, snaps.asScala.toSeq)
    } finally spark.listenerManager.unregister(l)
  }

  test("capped pair-join plan: map-side heap, shared exchange, no cartesian") {
    for (name <- Seq("q15_market_basket", "q17_product_affinity")) {
      val (p, snaps) = plansOf(name)
      assert((p +: snaps).exists(_.contains("TopKPerGroupPartial")),
        s"$name lost the map-side heap (hot keys would ship whole):\n$p\n${snaps.mkString("\n")}")
      // the self-join must not rebuild its input twice via plain exchanges:
      // either the capped frame's exchange is shared (ReusedExchange, the
      // bench-scale plan shape), the optimizer chose to broadcast one side
      // (tiny-scale cost-based plan, as at sf0.001), or the capped frame was
      // built once in a snap that both sides read (q17)
      val snapped = snaps.exists(_.contains("TopKPerGroupPartial")) && !p.contains("TopKPerGroup")
      assert(snapped || p.contains("ReusedExchange") || p.contains("BroadcastExchange"),
        s"$name self-join shares nothing and broadcasts nothing:\n$p")
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
      spark.conf.set(initKey, "4")
      Catalog.byName("q15_market_basket").build(spark, sf())
      Catalog.byName("q17_product_affinity").build(spark, sf())
      assert(spark.conf.get(initKey).toInt == 4,
        "a pair entry silently re-grew the per-job reducer raise")
    } finally spark.conf.unset(initKey)
  }
}
