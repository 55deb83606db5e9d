package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.BusProbe

/** Snapped intermediates under task faults: every first task attempt is
  * killed while an entry builds and runs, so the snap jobs and the jobs that
  * read their blocks both retry, and the result must not change.
  */
class ResidencySpec extends SparkSpec {

  /** Order-insensitive digest over name-ordered columns. */
  private def digest(df: DataFrame): String = {
    val rows = df.select(df.columns.sorted.map(c => col(s"`$c`")).toIndexedSeq: _*)
      .toJSON.collect().sorted
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(rows.mkString("\n").getBytes(UTF_8)).map("%02x".format(_)).mkString
  }

  private def run(name: String): String =
    try digest(Catalog.byName(name).build(spark, sf())) finally Residency.release(spark)

  /** Runs `body` while a listener kills the first attempt of every task it
    * sees start; returns the result and the number of retried attempts.
    */
  private def withFirstAttemptsKilled[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val retried = new AtomicInteger()
    val killer = new SparkListener {
      override def onTaskStart(e: SparkListenerTaskStart): Unit =
        if (e.taskInfo.attemptNumber == 0)
          sc.killTaskAttempt(e.taskInfo.taskId, interruptThread = false, "injected fault")
        else retried.incrementAndGet()
    }
    sc.addSparkListener(killer)
    try {
      val out = body
      BusProbe.drain(sc)
      (out, retried.get)
    } finally sc.removeSparkListener(killer)
  }

  // one entry per family that snaps: dedup, similarity, curation, rank
  for (name <- Seq("dd07_dedup_survivors", "ann09_ivfpq_topk",
      "cur01_curriculum_phases", "q36_distributed_percentiles"))
    test(s"$name gives the same rows when every first task attempt is killed") {
      val want = run(name)
      val (got, retried) = withFirstAttemptsKilled(run(name))
      assert(retried > 0, "no task was retried")
      assert(got == want)
    }
}
