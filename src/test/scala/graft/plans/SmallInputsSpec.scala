package graft.plans

import java.util.concurrent.atomic.AtomicInteger

import graft.{Catalog, Residency, SparkSpec, Tables}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.BusProbe
import org.apache.spark.sql.streaming.Trigger

/** Inputs that fit in one file split plan as one partition (every sf0.001
  * table does), and each such plan agrees with its distributed twin: the same
  * entry planned on [[distributed]], where no table fits in one split.
  */
class SmallInputsSpec extends SparkSpec {

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  /** The jobs `body` starts, counted once the listener bus has drained. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    BusProbe.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      BusProbe.drain(spark.sparkContext)
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("q33 and q39 plan no exchange and run as one job") {
    for (name <- Seq("q33_set_intersect_except", "q39_auto_topk_rewrite")) {
      val df = Catalog.byName(name).build(spark, sf())
      val p = plan(df)
      assert(!p.contains("Exchange"), s"$name plans an exchange:\n$p")
      val (rows, jobs) = jobsOf(df.collect())
      assert(rows.nonEmpty && jobs == 1, s"$name ran $jobs jobs")
    }
  }

  test("a join of two small scans plans a shuffled hash join with no exchange") {
    val t = Tables(spark, sf())
    val joined = t.orders.join(broadcast(t.customer), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
    val p = plan(joined)
    assert(p.contains("ShuffledHashJoin") && !p.contains("Exchange"), p)
    val left = t.customer.join(t.orders, col("c_custkey") === col("o_custkey"), "left_anti")
    val pl = plan(left)
    assert(pl.contains("ShuffledHashJoin") && !pl.contains("Exchange"), pl)
    assert(joined.collect().map(_.getLong(1)).sum == t.orders.count())
  }

  test("the distributed twin of the same join keeps its broadcast") {
    val t = Tables(distributed, sf())
    val p = plan(t.orders.join(broadcast(t.customer), col("o_custkey") === col("c_custkey")))
    assert(p.contains("BroadcastHashJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("a streaming aggregate keeps its state exchange") {
    val agg = graft.streaming.StreamingMVs.eventsStream(spark, sf())
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode("complete").format("memory")
      .queryName("small_inputs_state").trigger(Trigger.AvailableNow()).start()
    try {
      q.awaitTermination()
      val p = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan.toString
      assert(p.contains("StateStoreSave") && p.contains("Exchange hashpartitioning"), p)
      assert(!p.contains("Coalesce"), p)
    } finally q.stop()
  }

  /** Rows of `df` in a canonical order, doubles kept apart for [[same]]. */
  private def rowsOf(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(r => sortKey(r))

  /** A row's text with doubles cut to 6 significant digits, so rows whose
    * double folds differ in the last bits still sort alike.
    */
  private def sortKey(v: Any): String = v match {
    case r: Row => r.toSeq.map(sortKey).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(sortKey).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map(kv => sortKey(kv._1) + "->" + sortKey(kv._2)).sorted.mkString("{", ",", "}")
    case d: Double => f"$d%.5e"
    case f: Float => f"${f.toDouble}%.5e"
    case null => "null"
    case x => x.toString
  }

  /** Equal values, doubles within a relative 1e-9 (partitioning changes the
    * order in which double sums fold).
    */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Row, y: Row) => x.length == y.length && x.toSeq.zip(y.toSeq).forall { case (p, q) => same(p, q) }
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.length == y.length && x.zip(y).forall { case (p, q) => same(p, q) }
    case (x: scala.collection.Map[Any, Any] @unchecked, y: scala.collection.Map[Any, Any] @unchecked) =>
      x.keySet == y.keySet && x.forall { case (k, v) => same(v, y(k)) }
    case (x: Double, y: Double) =>
      x == y || (x.isNaN && y.isNaN) || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
    case (x: Float, y: Float) => same(x.toDouble, y.toDouble)
    case _ => a == b
  }

  private def build(s: SparkSession, name: String): Seq[Row] = {
    val rows = rowsOf(Catalog.byName(name).build(s, sf()))
    Residency.release(s)
    rows
  }

  test("every catalog entry gives the same rows as its distributed twin") {
    val differ = Catalog.all.map(_.name).flatMap { name =>
      val (small, twin) = (build(spark, name), build(distributed, name))
      val ok = small.length == twin.length && small.zip(twin).forall { case (a, b) => same(a, b) }
      if (ok) None else Some(s"$name: ${small.length} rows, twin ${twin.length}; " +
        small.zip(twin).find { case (a, b) => !same(a, b) }.map { case (a, b) => s"$a vs $b" }.getOrElse(""))
    }
    assert(differ.isEmpty, differ.mkString("\n", "\n", ""))
  }
}
