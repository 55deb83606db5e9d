package graft.sources

import java.io.FileNotFoundException

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** The one answer in graft to "which files are under this path, and did
  * they change?". Result caches, maintained streams, MV routing, corpus
  * metadata and the data-size gates all read [[of]], so they agree on what
  * a change is: a file added, removed, resized or touched.
  */
object Listing {

  /** A sorted listing: (path, length, mtime) of every file. */
  type Files = Seq[(String, Long, Long)]

  private val conf = new Configuration()

  // A private instance: `FileSystem.get` caches one instance per scheme for
  // the JVM, configured by whoever asks first, and a listing can run before
  // the session exists (the session builder sizes its reducers from it).
  private val local = FileSystem.newInstance(java.net.URI.create("file:///"), conf)

  private def fileSystem(root: Path): FileSystem =
    if (Option(root.toUri.getScheme).forall(_ == "file")) local else root.getFileSystem(conf)

  /** `dir` as an absolute, normalized local path: the key every memo over a
    * data dir uses, so `sf0.01`, `./sf0.01` and `/abs/sf0.01` are one dir.
    */
  def norm(dir: String): String =
    java.nio.file.Paths.get(dir).toAbsolutePath.normalize.toString

  /** Every file under `roots`, walked recursively, sorted. A missing root
    * lists nothing. `listStatus`, not `listFiles`: `listFiles` returns
    * located statuses, which read each file's owner and permissions — on the
    * local file system a forked `ls` per file, about 5 ms each.
    */
  def of(roots: Seq[Path]): Files =
    roots.flatMap { root =>
      try files(fileSystem(root), root) catch { case _: FileNotFoundException => Nil }
    }.map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted

  private def files(fs: FileSystem, p: Path): Seq[FileStatus] =
    fs.listStatus(p).toSeq.flatMap(s => if (s.isDirectory) files(fs, s.getPath) else Seq(s))

  /** Every file under the local path `dir`. */
  def of(dir: String): Files = of(Seq(new Path(norm(dir))))

  /** Total bytes of the files under `dir`. */
  def bytes(dir: String): Long = of(dir).map(_._2).sum

  /** Values computed over the files under a path, one per (path, name): a
    * value is reused while the listing read before it was computed is still
    * the listing, and computed again otherwise. A file that changes while a
    * value is computed leaves it stale, so the next lookup recomputes.
    * Lookups of one key wait for each other; other keys do not.
    */
  final class Memo[V] {
    private val held = TrieMap[(String, String), (Files, V)]()
    private val locks = TrieMap[(String, String), AnyRef]()

    def apply(path: String, name: String)(compute: => V): V = {
      val key = (norm(path), name)
      locks.getOrElseUpdate(key, new AnyRef).synchronized {
        val now = of(path)
        held.get(key) match {
          case Some((files, v)) if files == now => v
          case _ =>
            val v = compute
            held.put(key, (now, v))
            v
        }
      }
    }

    /** The value for (path, name) if its listing is still the listing. */
    def fresh(path: String, name: String): Option[V] =
      held.get((norm(path), name)).collect { case (files, v) if files == of(path) => v }
  }
}
