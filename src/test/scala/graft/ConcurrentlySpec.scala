package graft

class ConcurrentlySpec extends SparkSpec {

  private def activeJobs: Int = spark.sparkContext.statusTracker.getActiveJobIds().length

  /** A branch that checkpoints a frame whose tasks sleep for a minute. */
  private def slowCheckpoint(): Long = {
    import spark.implicits._
    spark.range(0, 4, 1, 4).as[Long]
      .map { i => Thread.sleep(60000); i }
      .localCheckpoint(true).count()
  }

  /** The status tracker reads the listener bus, so it lags the scheduler. */
  private def await(seconds: Int)(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + seconds * 1000000000L
    while (!cond && System.nanoTime() < deadline) Thread.sleep(20)
    cond
  }

  private def awaitJobStart(): Unit =
    assert(await(30)(activeJobs > 0), "the branch's job never started")

  private def assertNoJobs(): Unit =
    assert(await(5)(activeJobs == 0), "a branch job outlived the call")

  test("a throwing caller thunk cancels and joins the other branches") {
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      Concurrently(spark, slowCheckpoint(), { awaitJobStart(); throw new IllegalStateException("boom") })
    }
    assert(e.getMessage == "boom")
    assertNoJobs()
    assert((System.nanoTime() - t0) / 1e9 < 50, "the branch ran to completion instead of being cancelled")
    Residency.release(spark)
    assert(Residency.residentRddCount(spark) == 0)
    // nothing starts later either: the branch is gone, not just paused
    Thread.sleep(500)
    assert(activeJobs == 0 && Residency.residentRddCount(spark) == 0)
  }

  test("a throwing pool branch cancels its sibling and keeps its exception type") {
    val e = intercept[IllegalArgumentException] {
      Concurrently(spark,
        { awaitJobStart(); throw new IllegalArgumentException("branch") },
        slowCheckpoint(),
        "caller")
    }
    assert(e.getMessage == "branch")
    assertNoJobs()
    Residency.release(spark)
    assert(Residency.residentRddCount(spark) == 0)
  }
}
