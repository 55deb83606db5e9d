package graft

/** Plan-inspection helper: `runMain graft.Explain <queryName> [sfDir] [runs]`
  * prints the formatted physical plan and wall times for repeated
  * materializations (noop sink). Used to keep every catalog query on the plan
  * we'd want at 100 TB: broadcasts where expected, filters pushed to the scan,
  * WholeStageCodegen spans wide, no stray shuffles.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 3
    val spark = GraftSession.session("graft-explain", sfDir)
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    Residency.release(spark)
    (1 to runs).foreach { r =>
      // rebuild per run + release after, matching Bench methodology — a
      // released snap cannot be re-materialized from the same frame
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"[explain] $name run $r: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      Residency.release(spark)
    }
    spark.stop()
  }
}
