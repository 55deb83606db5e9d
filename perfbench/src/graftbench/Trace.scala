package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A span around one call into the program: `parent` is 0 for an op. */
final case class Span(id: Long, parent: Long, name: String, startMs: Long, endMs: Long)

final case class StageRec(submitMs: Long, endMs: Long, tasks: Long, cpuNs: Long,
    shuffleBytes: Long, spillBytes: Long)

/** Work counted inside a window of wall-clock time. */
final case class Work(jobs: Long, stages: Long, tasks: Long, taskCpuS: Double,
    shuffleBytes: Long, spillBytes: Long, planMs: Double, busyMs: Long) {
  def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    taskCpuS + o.taskCpuS, shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes,
    planMs + o.planMs, busyMs + o.busyMs)
}

object Work { val zero: Work = Work(0, 0, 0, 0.0, 0, 0, 0.0, 0) }

/** The benchmark's own listeners: Spark jobs and stages (with aggregated
  * task metrics) and each query execution's planning phases, all stamped
  * with wall-clock times so that they can be attributed to the serial op
  * whose span contains them. Registered only in traced runs.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  private val jobStarts = new ConcurrentLinkedQueue[Long]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val plans = new ConcurrentLinkedQueue[(Long, Double)]()
  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)

  private val selfNs = new java.util.concurrent.atomic.AtomicLong(0)

  /** Time spent in this recorder's own callbacks and span bookkeeping, in
    * ms: the cost of tracing, on the listener buses and the calling threads.
    */
  def selfMs: Double = selfNs.get / 1e6

  private def own[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally selfNs.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = own(jobStarts.add(e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = own {
    val i = e.stageInfo
    val m = i.taskMetrics
    val (cpu, shuffle, spill) =
      if (m == null) (0L, 0L, 0L)
      else (m.executorCpuTime,
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    stages.add(StageRec(i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
      i.numTasks.toLong, cpu, shuffle, spill))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = own {
    val phases = qe.tracker.phases
    if (phases.nonEmpty)
      plans.add(phases.values.map(_.startTimeMs).min ->
        phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  private val current = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  /** Time a call as a span, child of the span open on this thread. */
  def span[T](name: String)(body: => T): T = {
    val (id, parent) = own {
      val id = ids.incrementAndGet()
      val parent = current.get()
      current.set(id)
      (id, parent.longValue)
    }
    val t0 = Proc.nowMs
    try body finally own {
      spans.add(Span(id, parent, name, t0, Proc.nowMs))
      current.set(parent)
    }
  }

  /** Jobs, stages, tasks and planning time whose start lies in [from, to);
    * `busyMs` is the part of the window covered by at least one running stage.
    */
  def work(from: Long, to: Long): Work = {
    val in = stages.asScala.filter(s => s.submitMs >= from && s.submitMs < to).toSeq
    val intervals = in.map(s => (math.max(s.submitMs, from), math.min(math.max(s.endMs, s.submitMs), to)))
      .sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    intervals.foreach { case (s, e) =>
      if (s > curE) { busy += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    busy += math.max(0L, curE - curS)
    Work(
      jobs = jobStarts.asScala.count(t => t >= from && t < to).toLong,
      stages = in.size.toLong,
      tasks = in.map(_.tasks).sum,
      taskCpuS = in.map(_.cpuNs).sum / 1e9,
      shuffleBytes = in.map(_.shuffleBytes).sum,
      spillBytes = in.map(_.spillBytes).sum,
      planMs = plans.asScala.filter(p => p._1 >= from && p._1 < to).map(_._2).sum,
      busyMs = busy)
  }

  /** Wait until listener events stop arriving (the bus is asynchronous). */
  def settle(): Unit = {
    def size = jobStarts.size + stages.size + plans.size
    var last = -1
    while (size != last) { last = size; Thread.sleep(300) }
  }

  def spansJson: Seq[collection.Map[String, Any]] = spans.asScala.toSeq.sortBy(_.id).map(s =>
    Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs))
}
