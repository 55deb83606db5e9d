package graft.sql

import scala.collection.immutable.SortedMap

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{CurrentDate, CurrentTime, CurrentTimestampLike, LocalTimestamp}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** One HTTP server's route results, keyed by catalog entry name: routes that
  * share an entry share its result.
  *
  * An entry's version is the sorted (path, length, mtime) of every file under
  * the root paths of the parquet relations its analyzed plan reads, walked
  * recursively, so a directory table and a file-sink MV count too. The roots
  * come from the entry's first build and are kept. A request lists the files
  * and returns the held body when the version is unchanged; otherwise it reads
  * the version first, then builds and runs the entry as [[Serving]] does, so a
  * file that changes mid-query costs one more run, never a stale body. (On the
  * first build the roots are unknown until the frame exists, so there the
  * version is read between the build and the run.)
  *
  * An entry whose plan has another leaf (a checkpointed RDD, a local relation,
  * a memory-sink table, a stream) or an expression that is non-deterministic
  * or reads the clock has no file version: it runs on every request, without
  * the entry lock. A cacheable entry's lock makes concurrent requests for it
  * run one query; requests for other entries do not wait on it.
  */
final class ResultCache(spark: SparkSession, dir: String) {
  import ResultCache._

  private val hadoopConf = spark.sessionState.newHadoopConf()
  private val entries: Map[String, Entry] =
    Serving.endpoints.values.toSeq.distinct.map(_ -> new Entry).toMap

  /** The JSON body of `route`, from the cache when its files are unchanged. */
  def body(route: String): String = {
    val entry = entries(Serving.endpoints(route))
    val t0 = System.nanoTime()
    val (out, hit) = lookup(route, entry)
    entry.stats.record(hit, (System.nanoTime() - t0) / 1e6)
    out
  }

  /** Per entry: requests, hits, misses, whether it is cacheable (null before
    * its first build) and latency percentiles over its last [[Window]]
    * requests.
    */
  def metrics: SortedMap[String, Map[String, Any]] =
    SortedMap.from(entries).map { case (name, e) =>
      name -> (e.stats.snapshot + ("cacheable" -> (if (e.roots == null) null else e.roots.isDefined)))
    }

  private def run(route: String): String = Serving.toJson(Serving.run(route, spark, dir))

  private def lookup(route: String, e: Entry): (String, Boolean) =
    if (e.roots == None) (run(route), false)
    else e.synchronized {
      e.roots match {
        case null =>
          val df = Serving.run(route, spark, dir)
          e.roots = fileRoots(df.queryExecution.analyzed)
          val version = e.roots.map(versionOf)
          val out = Serving.toJson(df)
          version.foreach { v => e.version = v; e.body = out }
          (out, false)
        case Some(roots) =>
          val version = versionOf(roots)
          if (e.body != null && version == e.version) (e.body, true)
          else {
            val out = run(route)
            e.version = version
            e.body = out
            (out, false)
          }
        case None => (run(route), false)
      }
    }

  /** Walks the roots with `listStatus`, not `listFiles`: `listFiles` returns
    * located statuses, which read each file's owner and permissions — on the
    * local file system a forked `ls` per file, about 5 ms each.
    */
  private def versionOf(roots: Seq[Path]): Seq[(String, Long, Long)] = {
    def files(fs: FileSystem, p: Path): Seq[FileStatus] =
      fs.listStatus(p).toSeq.flatMap(s => if (s.isDirectory) files(fs, s.getPath) else Seq(s))
    roots.flatMap(root => files(root.getFileSystem(hadoopConf), root))
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted
  }
}

object ResultCache {

  /** Requests per entry that the latency percentiles cover. */
  val Window = 1024

  /** The root paths of every parquet relation `plan` reads, including
    * relations inside subqueries; None when any other leaf or a
    * non-deterministic or clock-reading expression makes the result depend
    * on more than those files.
    */
  def fileRoots(plan: LogicalPlan): Option[Seq[Path]] = {
    val volatile = plan.collectWithSubqueries { case p => p.expressions }.flatten.exists { e =>
      !e.deterministic || e.exists {
        case _: CurrentTimestampLike | _: CurrentDate | _: CurrentTime | _: LocalTimestamp => true
        case _ => false
      }
    }
    val leaves = plan.collectWithSubqueries { case p if p.children.isEmpty => p }
    val roots = leaves.map {
      case l: LogicalRelation if !l.isStreaming => l.relation match {
        case r: HadoopFsRelation => Some(r.location.rootPaths)
        case _ => None
      }
      case _ => None
    }
    if (volatile || roots.contains(None)) None else Some(roots.flatten.flatten.distinct)
  }

  /** One entry's held result. `roots` is null until the first build, then
    * Some(roots) or None (never cached); the other fields change under the
    * entry's lock.
    */
  private final class Entry {
    @volatile var roots: Option[Seq[Path]] = _
    var version: Seq[(String, Long, Long)] = _
    var body: String = _
    val stats = new Stats
  }

  private final class Stats {
    private var requests, hits = 0L
    private val latencyMs = new Array[Double](Window)

    def record(hit: Boolean, ms: Double): Unit = synchronized {
      latencyMs((requests % Window).toInt) = ms
      requests += 1
      if (hit) hits += 1
    }

    def snapshot: Map[String, Any] = synchronized {
      val recent = latencyMs.take(math.min(requests, Window.toLong).toInt).sorted
      def pct(p: Double): Any =
        if (recent.isEmpty) null else recent(math.ceil(p / 100 * recent.length).toInt - 1)
      Map("requests" -> requests, "hits" -> hits, "misses" -> (requests - hits),
        "p50_ms" -> pct(50), "p99_ms" -> pct(99))
    }
  }
}
