package graftbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.HttpServer

/** Checks of the benchmark's own JVM-side logic; prints one JSON line with
  * the failures (empty when all pass).
  */
object SelfTest {
  def run(workDir: String, panel: Seq[String], slices: Int): String = {
    val failures = Seq(
      "module attribution covers every catalog entry exactly once" -> attribution _,
      "check slices cover every entry outside the panel, once untraced and once traced" ->
        (() => checkSlices(panel, slices)),
      "latency counts from the due time under a stalled server" -> stalledServer _,
      "json digest ignores row and key order" -> jsonDigest _,
      "dataframe digest ignores row order" -> (() => frameDigest(workDir)),
    ).flatMap { case (name, check) =>
      val problems = try check() catch { case e: Throwable => Seq(e.toString) }
      problems.map(p => s"$name: $p")
    }
    Json.render(Json.obj("selftest" -> "graftbench", "failures" -> failures))
  }

  private def attribution(): Seq[String] = {
    val n = graft.Catalog.all.size
    Modules.check ++ (if (Modules.of.size != n) Seq(s"${Modules.of.size} attributed of $n") else Nil)
  }

  private def checkSlices(panel: Seq[String], slices: Int): Seq[String] = {
    val all = graft.Catalog.all.map(_.name)
    val seeds = (0 until slices).map(_ + 1000L)
    val untraced = seeds.flatMap(CatalogWorkload.checkSlice(panel, slices, _, traced = false))
    val traced = seeds.flatMap(CatalogWorkload.checkSlice(panel, slices, _, traced = true))
    val missing = all.filterNot(n => panel.contains(n) || traced.contains(n))
    val twice = untraced.diff(untraced.distinct)
    Seq(
      if (panel.forall(all.contains)) None else Some(s"panel entry not in the catalog: $panel"),
      if (CatalogWorkload.streamSetup.forall(all.contains)) None else Some("unknown stream set-up entry"),
      if (missing.isEmpty) None else Some(s"never checked: ${missing.mkString(",")}"),
      if (twice.isEmpty) None else Some(s"checked twice: ${twice.mkString(",")}"),
      if (untraced.exists(CatalogWorkload.streamSetup)) Some("an untraced run checks a stream set-up entry") else None,
      if (traced.exists(panel.contains)) Some("a panel entry is in a slice") else None,
    ).flatten
  }

  /** One server thread that stalls 400 ms on its first request; one client
    * sends four requests due 100 ms apart. The second is sent only once the
    * first returns, so its latency from due must include the wait.
    */
  private def stalledServer(): Seq[String] = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val first = new java.util.concurrent.atomic.AtomicBoolean(true)
    server.createContext("/x", ex => {
      if (first.getAndSet(false)) Thread.sleep(400)
      val b = "[]".getBytes(UTF_8)
      ex.sendResponseHeaders(200, b.length); ex.getResponseBody.write(b); ex.close()
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      val sched = (0 until 4).map(i => (i * 100000000L, "/x"))
      val s = LoadGen.openLoop(sched, 1, Common.fetch(port))
      val second = s(1)
      val service = (second.doneNs - second.sentNs) / 1e6
      Seq(
        if (s.forall(_.ok)) None else Some("a request failed"),
        if (second.latencyMs >= 250) None else Some(f"second latency ${second.latencyMs}%.0f ms < 250"),
        if (service < 150) None else Some(f"second service time $service%.0f ms"),
        if (!second.waited) None else Some("second request counted as on time"),
      ).flatten
    } finally server.stop(0)
  }

  private def jsonDigest(): Seq[String] = {
    val a = Digest.ofJsonArray("""[{"a":1,"b":"x"},{"a":2,"b":"y"},{"a":2,"b":"y"}]""")
    val b = Digest.ofJsonArray("""[{"b":"y","a":2},{"a":1,"b":"x"},{"b":"y","a":2}]""")
    val c = Digest.ofJsonArray("""[{"a":1,"b":"x"},{"a":2,"b":"y"},{"a":3,"b":"y"}]""")
    Seq(
      if (a == b) None else Some(s"reordered rows differ: $a vs $b"),
      if (a != c) None else Some("changed row not detected"),
      if (a.rows == 3) None else Some(s"row count ${a.rows}"),
    ).flatten
  }

  private def frameDigest(workDir: String): Seq[String] = {
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      import org.apache.spark.sql.functions._
      val df = spark.range(0, 1000).select(col("id"), (col("id") % 7).as("k"),
        map(lit("m"), col("id")).as("m"))
      val a = Digest.of(df)
      val b = Digest.of(df.repartition(5).orderBy(col("id").desc).select("m", "k", "id"))
      val c = Digest.of(df.withColumn("k", when(col("id") === 3, 99).otherwise(col("k"))))
      Seq(
        if (a == b) None else Some(s"reordered frame differs: $a vs $b"),
        if (a != c) None else Some("changed value not detected"),
      ).flatten
    } finally spark.stop()
  }
}
