package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Runs one workload in this JVM and writes its raw record (latency samples,
  * set-up phases, output digests and, when traced, per-layer counters) as
  * JSON. `perfbench/run.py` launches it and turns the record into metrics.
  *
  *   graftbench.Main --workload catalog|live|digests|digests-of|selftest --seed N
  *     --seconds S --trace 0|1 --data DIR --work DIR --out FILE
  *     [--entries a,b,...] [--check-slices K] [--rate R] [--paced-rows R]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val realOut = System.out
    System.setOut(System.err) // nothing but the launcher's own lines on stdout
    System.setProperty("http.keepAlive", "false") // no connection-cache thread in the clients
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val workDir = Paths.get(opt("work")).toAbsolutePath.toString
    Files.createDirectories(Paths.get(workDir))
    if (workload == "selftest") {
      realOut.println(SelfTest.run(workDir, opt("entries").split(",").toSeq, opt("check-slices").toInt))
      return
    }

    val dataDir = Paths.get(opt("data")).toAbsolutePath.toString
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString).toInt
    val t0 = System.nanoTime()
    val spark = Session.build(dataDir, cpus)
    Session.redirectLogs(workDir) // after the session: Spark installs its own defaults first
    val recorder = if (opt.getOrElse("trace", "0") == "1") Some(new Recorder) else None
    recorder.foreach(_.install(spark))
    val ctx = new Ctx(spark, dataDir, workDir, opt.getOrElse("seed", "1").toLong,
      opt.getOrElse("seconds", "10").toDouble, recorder)
    ctx.setup("session_s") = (System.nanoTime() - t0) / 1e9
    Modules.check.foreach(ctx.error)

    try workload match {
      case "catalog" =>
        CatalogWorkload.run(ctx, opt("entries").split(",").toSeq, opt("check-slices").toInt)
      case "live" => LiveWorkload.run(ctx, opt("paced-rows").toInt, opt("rate").toDouble)
      case "digests" => CatalogWorkload.digestAll(ctx)
      case "digests-of" => // digests of a correctness dump: one parquet dir per entry
        ctx.record("digests") = collection.mutable.TreeMap(
          new java.io.File(opt("from")).listFiles.toSeq.filter(_.isDirectory).map { d =>
            d.getName -> Digest.of(spark.read.parquet(d.getPath)).toString
          }: _*)
      case other => ctx.error(s"unknown workload $other")
    } catch { case e: Throwable => ctx.error(s"$workload aborted: $e") }

    val r = ctx.record
    r("workload") = workload
    // set-up cost as the CPU seconds the JVM (all threads) spent before the
    // first timed op: time that other processes take from the box's CPUs is
    // not charged to it, while it stretches the set-up's wall clock
    r("setup_s") = if (ctx.firstOpMs < 0) Double.NaN else ctx.firstOpCpuMs / 1000.0
    r("setup_wall_s") = if (ctx.firstOpMs < 0) Double.NaN else (ctx.firstOpMs - Proc.jvmStartMs) / 1000.0
    r("setup") = ctx.setup
    r("peak_rss_mb") = Proc.peakRssMb
    r("ops") = ctx.ops
    r("resident_rdds") = graft.Residency.residentRddCount(spark)
    r("errors") = ctx.errors.asScala.toSeq
    r("jvm") = Json.obj(
      "cpus" -> cpus,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "java" -> System.getProperty("java.vm.version"),
      "spark" -> spark.version)
    recorder.foreach { rec =>
      ctx.layers("trace.overhead_ms_per_op") = rec.selfMs / math.max(1, ctx.ops.size)
      r("layers") = ctx.layers
      r("spans") = rec.spansJson
    }
    Files.writeString(Paths.get(opt("out")), Json.render(r))
    spark.stop()
  }
}
