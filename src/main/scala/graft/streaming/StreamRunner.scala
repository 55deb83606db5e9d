package graft.streaming

import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

import graft.sources.Listing
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, StreamingQueryListener, Trigger}

/** The one place the catalog's streams are started and awaited.
  *
  * A run starts its queries from a private clone of the caller's session,
  * so the caller's conf is never written: queries running next to a stream
  * (`Concurrently`, the serving threads) keep the session's own settings.
  * The clone carries three settings of its own:
  *
  *  - `spark.sql.shuffle.partitions` is the data-derived state-partition
  *    count ([[graft.sources.Layout.statePartitionsFor]]), so each stream's
  *    count is its own. Stateful operators can't be AQE-coalesced, so a
  *    core-count partition floor would be pure per-partition store
  *    open/commit cost on them (measured: halves an sf0.1 complete-mode
  *    run). Results are unaffected: every state aggregate in the catalog is
  *    order-free mergeable (count / sum(decimal) / min / max / min(struct)),
  *    and join / dedup outputs are partitioning-independent row sets.
  *  - `spark.sql.artifact.isolation.enabled` is off. Each streaming query
  *    runs on a clone of its own, and with isolation on every clone gets
  *    its own artifact class loader; generated code is cached per (class
  *    loader, source), so every run of a stream recompiled every class (11
  *    per st13 run). Off, the query's clone runs under the default class
  *    loader and hits the session's warm codegen cache. Isolation only
  *    separates artifacts added to a session, and no code in graft adds
  *    one (`SessionHygieneSpec` pins that).
  *  - `spark.sql.streaming.checkpointFileManagerClass` is
  *    [[LocalCheckpointFileManager]], which writes `file:` checkpoints
  *    without the processes Hadoop's local file system forks.
  *
  * Every query runs under `Trigger.AvailableNow` to exhaustion. The runner
  * records one [[Cost]] per (dir, query name), memoizes maintained streams
  * per (dir, name) while the files under `dir` are unchanged
  * ([[graft.sources.Listing.Memo]]), and hands memory-sink results back as
  * frames in the caller's session. When a run ends, the streaming listener
  * buses of the clone and of each query's own session are detached from the
  * context's shared listener bus, where they would otherwise stay for the
  * life of the context.
  */
object StreamRunner {

  /** wall = start→termination of the query (the queries of one run overlap,
    * so walls do too); busy = Σ triggerExecution over its micro-batches
    * (additive, the cost signal); batches = micro-batch count; stateBytes =
    * the last progress event's Σ stateOperators.memoryUsedBytes (resident
    * state under the session's provider).
    */
  final case class Cost(wallSec: Double, busySec: Double, batches: Long, stateBytes: Long)

  private val recorded = TrieMap[(String, String), Cost]()
  // maintained streams: the clone a memory sink's view is registered in, or
  // the root directory a file sink wrote
  private val clones = new Listing.Memo[SparkSession]
  private val roots = new Listing.Memo[String]

  /** The last recorded cost of each of `names` over `dir`, in `names` order;
    * a name that never ran is absent.
    */
  def costs(dir: String, names: Seq[String]): Seq[(String, Cost)] =
    names.flatMap(n => recorded.get((dir, n)).map(n -> _))

  /** Start every query `queries` defines on a private clone of `spark`, each
    * named by its key, and wait for all of them to end. If one fails, the
    * rest are stopped and the failure is rethrown. Returns the clone.
    */
  def run(spark: SparkSession, dir: String)
      (queries: SparkSession => Seq[(String, DataStreamWriter[Row])]): SparkSession = {
    val clone = ColumnBridge.cloneSession(spark)
    clone.conf.set("spark.sql.shuffle.partitions", graft.sources.Layout
      .statePartitionsFor(dir, spark.sparkContext.defaultParallelism).toString)
    clone.conf.set("spark.sql.artifact.isolation.enabled", "false")
    clone.conf.set("spark.sql.streaming.checkpointFileManagerClass",
      classOf[LocalCheckpointFileManager].getName)
    val t0 = System.nanoTime()
    val writers = queries(clone)
    // the memory sink's view and the query itself live in the clone, so the
    // listener goes on the clone's query manager
    val progress = new Progress(writers.size, t0)
    clone.streams.addListener(progress)
    val started = ArrayBuffer[(String, StreamingQuery)]()
    try {
      writers.foreach { case (name, w) =>
        started += name -> w.queryName(name).trigger(Trigger.AvailableNow()).start()
      }
      started.foreach(_._2.awaitTermination())
      started.foreach { case (name, q) => recorded.put((dir, name), progress.cost(q.runId)) }
    } finally {
      started.foreach(_._2.stop()) // a no-op once a query has ended
      clone.streams.removeListener(progress)
      (clone +: started.map(q => ColumnBridge.querySession(q._2)))
        .foreach(ColumnBridge.detachStreamingBus)
    }
    clone
  }

  /** One memory-sink query `name` in output `mode` over the stream `query`
    * defines, run to exhaustion; its result as a frame in `spark`.
    */
  def table(spark: SparkSession, dir: String, name: String, mode: String)
      (query: SparkSession => DataFrame): DataFrame =
    view(spark, runTable(spark, dir, name, mode, query), name)

  /** [[table]], run again only when the files under `dir` change. */
  def maintainedTable(spark: SparkSession, dir: String, name: String, mode: String)
      (query: SparkSession => DataFrame): DataFrame =
    view(spark, clones(dir, name)(runTable(spark, dir, name, mode, query)), name)

  /** Run `build` with a fresh root directory for its file sinks and
    * checkpoints, again only when the files under `dir` change; returns the
    * root.
    */
  def maintainedRoot(dir: String, name: String)(build: String => Unit): String =
    roots(dir, name) {
      val root = java.nio.file.Files.createTempDirectory(s"graft_${name}_").toString
      build(root)
      root
    }

  /** The root of maintained stream `name` over `dir` while the files under
    * `dir` are those it ran over.
    */
  def freshRoot(dir: String, name: String): Option[String] = roots.fresh(dir, name)

  private def runTable(spark: SparkSession, dir: String, name: String, mode: String,
      query: SparkSession => DataFrame): SparkSession =
    run(spark, dir)(s => Seq(name -> query(s).writeStream.outputMode(mode).format("memory")))

  // `.logical` would still name the clone's view; the analyzed plan carries
  // the sink's data and resolves in any session
  private def view(spark: SparkSession, clone: SparkSession, name: String): DataFrame =
    ColumnBridge.ofRows(spark, clone.table(name).queryExecution.analyzed)

  /** Accumulates each query's [[Cost]] as its events arrive — in the
    * listener, because `recentProgress` is a bounded buffer (100 entries by
    * default) that would undercount a long run. One query's events arrive
    * in order on one thread.
    */
  private final class Progress(queries: Int, t0: Long) extends StreamingQueryListener {
    import StreamingQueryListener._
    private val ended = new CountDownLatch(queries)
    private val costs = TrieMap[UUID, Cost]()
    private def update(runId: UUID)(f: Cost => Cost): Unit =
      costs.updateWith(runId)(c => Some(f(c.getOrElse(Cost(-1.0, 0.0, 0L, 0L)))))

    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val busyMs = p.durationMs.getOrDefault("triggerExecution", 0L).longValue
      val state = Option(p.stateOperators).toSeq.flatten.map(_.memoryUsedBytes).sum
      update(p.runId)(c => Cost(c.wallSec, c.busySec + busyMs / 1e3, c.batches + 1,
        if (state > 0) state else c.stateBytes))
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
      update(e.runId)(_.copy(wallSec = (System.nanoTime() - t0) / 1e9))
      ended.countDown()
    }

    /** Wait (bounded: dispatch is asynchronous) for every query's termination
      * event, which follows its last progress event; then its cost.
      */
    def cost(runId: UUID): Cost = {
      ended.await(10, TimeUnit.SECONDS)
      costs.getOrElse(runId, Cost(-1.0, 0.0, 0L, 0L))
    }
  }
}
