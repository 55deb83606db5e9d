package graft

import java.util.concurrent.{CompletableFuture, CompletionException}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

/** Overlap INDEPENDENT eager subchains of a composition entry (optimization
  * guide §2.6 "overlap independent jobs"): DataFrame *builds* in this
  * codebase can run eager jobs (`Residency.snap`, metadata collects,
  * the ts02 union-find's edge collect), which serialize on the entry's
  * build thread even though Spark would happily back-fill executor slack
  * with the other subchain's tasks. Each extra thunk runs on its own thread;
  * the default FIFO scheduler gives the earlier job the resources and later
  * jobs the remainder — exactly the back-fill the guide describes. Results
  * are the identical DataFrames the sequential builds produce; only wall
  * time changes.
  *
  * If any thunk throws, the pool branches' Spark jobs are cancelled through
  * their job group and every branch is joined before the exception
  * propagates, so no branch outlives the call.
  *
  * Used ONLY where the subchains are provably independent (no shared
  * mutable session conf, separate source tables or independent derivations)
  * — the composition entries dd11 (three detectors), sp02 (cluster map ∥
  * contamination verdicts), pp03 (cluster map ∥ the redact→select chain),
  * dd13 (exact-truth edge build ∥ minhash signature build).
  */
object Concurrently {
  private val groups = new AtomicLong()

  /** Pool branches sharing one Spark job group. */
  private final class Branches(spark: SparkSession) {
    private val sc = spark.sparkContext
    private val group = s"graft-concurrently-${groups.incrementAndGet()}"
    private var forked = List.empty[CompletableFuture[_]]

    def fork[T](body: => T): CompletableFuture[T] = {
      val f = CompletableFuture.supplyAsync { () =>
        sc.setJobGroup(group, "graft.Concurrently branch", interruptOnCancel = true)
        try body finally sc.clearJobGroup()
      }
      forked ::= f
      f
    }

    /** The branch's result, rethrowing its own exception type (Bench's
      * exact-baseline skip matches on IllegalArgumentException content).
      */
    def join[T](f: CompletableFuture[T]): T =
      try f.join()
      catch { case e: CompletionException if e.getCause != null => throw e.getCause }

    /** Run `body`; if it throws, cancel the group and wait out every branch. */
    def guard[T](body: => T): T =
      try body
      catch {
        case e: Throwable =>
          sc.cancelJobGroupAndFutureJobs(group)
          forked.foreach(f => try f.join() catch { case _: Throwable => () })
          throw e
      }
  }

  /** Run `a` on a pool thread while `b` runs on the caller's. */
  def apply[A, B](spark: SparkSession, a: => A, b: => B): (A, B) = {
    val br = new Branches(spark)
    br.guard {
      val fa = br.fork(a)
      val rb = b
      (br.join(fa), rb)
    }
  }

  /** Run `a` and `b` on pool threads while `c` runs on the caller's. */
  def apply[A, B, C](spark: SparkSession, a: => A, b: => B, c: => C): (A, B, C) = {
    val br = new Branches(spark)
    br.guard {
      val fa = br.fork(a)
      val fb = br.fork(b)
      val rc = c
      (br.join(fa), br.join(fb), rc)
    }
  }
}
