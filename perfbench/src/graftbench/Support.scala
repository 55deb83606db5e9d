package graftbench

import java.io.{BufferedReader, InputStreamReader}
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** JSON rendering of the result record (Jackson, with its Scala module).
  * NaN and infinities are written bare, as Python's json module reads them.
  */
object Json {
  private val mapper = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    .configure(JsonWriteFeature.WRITE_NAN_AS_STRINGS.mappedFeature, false)

  def render(v: Any): String = mapper.writeValueAsString(v)

  /** An insertion-ordered object. */
  def obj(kv: (String, Any)*): collection.mutable.LinkedHashMap[String, Any] =
    collection.mutable.LinkedHashMap(kv: _*)
}

object Stats {
  /** Linear-interpolation percentile (p in 0..100); NaN on empty input. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = (s.size - 1) * p / 100.0
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Zero instead of NaN, for counters of layers a workload does not use. */
  def orZero(x: Double): Double = if (x.isNaN) 0.0 else x
}

/** Process-level facts: clocks, GC, resident memory. */
object Proc {
  def nowMs: Long = System.currentTimeMillis()

  def gcMs: Long = {
    var t = 0L
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .forEach(b => t += math.max(0L, b.getCollectionTime))
    t
  }

  /** Peak resident set of this JVM in MB (VmHWM). */
  def peakRssMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
  }

  /** CPU time of this JVM, all threads, in ms. */
  def cpuMs: Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e6
    case _ => Double.NaN
  }

  /** JVM start time (ms since epoch), the origin of `setup_wall_s`. */
  def jvmStartMs: Long = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
}

/** The session every workload runs in: the catalog's tuned configuration
  * (the same settings the engine's Bench main uses), on `local[cpus]`.
  */
object Session {
  def build(dataDir: String, cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        graft.sources.Layout.initialPartitionsFor(dataDir, cpus).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config(graft.pipeline.ExactBaseline.ConfKey,
        graft.pipeline.ExactBaseline.DefaultMaxRows.toString)
      .config(graft.streaming.StateStores.ConfKey,
        graft.streaming.StateStores.providerClass)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Send every Spark log line to files under `workDir`, none to stdout.
    * `WholeStageCodegenExec` (fallback warnings) and `CodeGenerator`
    * (compile times) go to their own file, which [[Codegen]] reads.
    */
  def redirectLogs(workDir: String): Unit = {
    val cfg = Paths.get(workDir, "log4j2.properties")
    Files.writeString(cfg,
      s"""rootLogger.level = error
         |rootLogger.appenderRef.file.ref = Main
         |appender.file.type = File
         |appender.file.name = Main
         |appender.file.fileName = $workDir/spark.log
         |appender.file.append = false
         |appender.file.layout.type = PatternLayout
         |appender.file.layout.pattern = %d{HH:mm:ss.SSS} %p %c: %m%n%ex
         |appender.cg.type = File
         |appender.cg.name = Codegen
         |appender.cg.fileName = $workDir/codegen.log
         |appender.cg.append = false
         |appender.cg.layout.type = PatternLayout
         |appender.cg.layout.pattern = %m%n
         |logger.wscg.name = org.apache.spark.sql.execution.WholeStageCodegenExec
         |logger.wscg.level = info
         |logger.wscg.additivity = false
         |logger.wscg.appenderRef.cg.ref = Codegen
         |logger.cgen.name = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
         |logger.cgen.level = info
         |logger.cgen.additivity = false
         |logger.cgen.appenderRef.cg.ref = Codegen
         |""".stripMargin)
    org.apache.logging.log4j.core.config.Configurator.reconfigure(cfg.toUri)
  }
}

/** Codegen counters: whole-stage fallbacks and compile time come from the
  * codegen log file, compiled classes from Spark's `CodegenMetrics`.
  */
final class Codegen(workDir: String) {
  import Codegen.Snapshot
  private val path = Paths.get(workDir, "codegen.log")
  private val Compiled = """Code generated in ([0-9.]+) ms""".r.unanchored

  def snapshot: Snapshot = {
    var fallbacks = 0L
    var ms = 0.0
    if (Files.exists(path)) Files.lines(path).forEach { l =>
      if (l.contains("disabled for")) fallbacks += 1
      l match { case Compiled(x) => ms += x.toDouble; case _ => }
    }
    Snapshot(fallbacks, ms,
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
  }
}

object Codegen {
  final case class Snapshot(fallbacks: Long, compileMs: Double, classes: Long)
}

/** Blocking GETs over the JDK's HttpURLConnection. With keep-alive off
  * (`http.keepAlive=false`, set by [[Main]]) it starts no threads of its own,
  * so the workload's client-thread count is exact.
  */
object Http {
  final case class Response(code: Int, body: String)

  private def open(port: Int, path: String, timeoutMs: Int): HttpURLConnection = {
    val c = URI.create(s"http://127.0.0.1:$port$path").toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(timeoutMs)
    c.setReadTimeout(timeoutMs)
    c.setUseCaches(false)
    c
  }

  def get(port: Int, path: String, timeoutMs: Int = 60000): Response = {
    val c = open(port, path, timeoutMs)
    try {
      val code = c.getResponseCode
      val in = if (code < 400) c.getInputStream else c.getErrorStream
      val body = if (in == null) "" else try new String(in.readAllBytes(), UTF_8) finally in.close()
      Response(code, body)
    } finally c.disconnect()
  }

  /** Read a server-sent-event stream to its end; `onData` gets each
    * `data:` payload.
    */
  def sse(port: Int, path: String, onData: String => Unit, timeoutMs: Int = 60000): Int = {
    val c = open(port, path, timeoutMs)
    try {
      val code = c.getResponseCode
      if (code == 200) {
        val r = new BufferedReader(new InputStreamReader(c.getInputStream, UTF_8))
        try Iterator.continually(r.readLine()).takeWhile(_ != null)
          .filter(_.startsWith("data: ")).foreach(l => onData(l.drop(6)))
        finally r.close()
      }
      code
    } finally c.disconnect()
  }
}
