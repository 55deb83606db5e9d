package graft.streaming

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

/** A local file system under another scheme, so a path can be non-`file`
  * without a remote store. It has no `AbstractFileSystem`, so Spark's
  * default manager falls back to the `FileSystem`-based one for it.
  */
class AltLocalFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("alt:///")
  override def getScheme: String = "alt"
}

class LocalCheckpointFileManagerSpec extends AnyFunSuite {

  private val conf = new Configuration()

  private def withDir(body: java.nio.file.Path => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_cfm")
    try body(dir) finally LocalCheckpointFileManager.deleteTree(dir)
  }

  private def manager(dir: java.nio.file.Path) =
    new LocalCheckpointFileManager(new Path(dir.toUri), conf)

  private def names(dir: java.nio.file.Path): Set[String] = {
    val s = Files.list(dir)
    try s.iterator.asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  private def read(m: CheckpointFileManager, p: Path): String = {
    val in = m.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def write(m: CheckpointFileManager, p: Path, text: String, overwrite: Boolean): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  test("Spark builds the manager named by spark.sql.streaming.checkpointFileManagerClass") {
    val c = new Configuration(conf)
    c.set("spark.sql.streaming.checkpointFileManagerClass", classOf[LocalCheckpointFileManager].getName)
    withDir { dir =>
      val m = CheckpointFileManager.create(new Path(dir.toUri), c)
      assert(m.isInstanceOf[LocalCheckpointFileManager] && m.isLocal)
    }
  }

  test("a published file is visible only after close") {
    withDir { dir =>
      val m = manager(dir)
      val p = new Path(dir.toUri.resolve("0"))
      val out = m.createAtomic(p, false)
      out.write("v1".getBytes(UTF_8))
      out.flush()
      assert(!m.exists(p) && m.list(new Path(dir.toUri), (f: Path) => f.getName == "0").isEmpty)
      out.close()
      assert(m.exists(p) && read(m, p) == "v1")
      assert(names(dir) == Set("0"), "the temp file must be gone once published")
      out.close() // a second close is a no-op
      assert(names(dir) == Set("0"))
    }
  }

  test("cancel leaves no file") {
    withDir { dir =>
      val m = manager(dir)
      val p = new Path(dir.toUri.resolve("1.delta"))
      val out = m.createAtomic(p, true)
      out.write(Array.fill[Byte](1 << 17)(7)) // past the write buffer
      out.cancel()
      out.close() // after cancel, close publishes nothing
      assert(!m.exists(p) && names(dir).isEmpty)
    }
  }

  test("overwrite=false on an existing file throws and keeps the file; overwrite=true replaces it") {
    withDir { dir =>
      val m = manager(dir)
      val p = new Path(dir.toUri.resolve("2"))
      write(m, p, "first", overwrite = false)
      assertThrows[FileAlreadyExistsException](write(m, p, "second", overwrite = false))
      assert(read(m, p) == "first" && names(dir) == Set("2"))
      write(m, p, "third", overwrite = true)
      assert(read(m, p) == "third" && names(dir) == Set("2"))
    }
  }

  test("list filters and skips .crc side files; mkdirs, exists and delete act on trees") {
    withDir { dir =>
      val m = manager(dir)
      val sub = new Path(dir.toUri.resolve("state/0/1"))
      m.mkdirs(sub)
      write(m, new Path(sub, "1.delta"), "a", overwrite = true)
      write(m, new Path(sub, "2.delta"), "b", overwrite = true)
      write(m, new Path(sub, "2.zip"), "c", overwrite = true)
      Files.write(dir.resolve("state/0/1/.1.delta.crc"), Array[Byte](0))
      assert(m.list(sub).map(_.getPath.getName).toSet == Set("1.delta", "2.delta", "2.zip"))
      assert(m.list(sub, (f: Path) => f.getName.endsWith(".delta")).map(_.getPath.getName).toSet ==
        Set("1.delta", "2.delta"))
      val top = new Path(dir.toUri.resolve("state"))
      assert(m.exists(top))
      m.delete(top)
      assert(!m.exists(top) && names(dir).isEmpty)
      m.delete(top) // a missing path is not an error
    }
  }

  test("a non-file path delegates to the manager Spark would pick") {
    val c = new Configuration(conf)
    c.set("fs.alt.impl", classOf[AltLocalFileSystem].getName)
    c.setBoolean("fs.alt.impl.disable.cache", true)
    withDir { dir =>
      val m = new LocalCheckpointFileManager(new Path(s"alt:${dir.toUri.getPath}"), c)
      assert(m.delegate.exists(_.isInstanceOf[FileSystemBasedCheckpointFileManager]))
      val p = new Path(s"alt:${dir.toUri.getPath}/3")
      write(m, p, "via delegate", overwrite = false)
      assert(m.exists(p) && read(m, p) == "via delegate")
      assert(new String(Files.readAllBytes(dir.resolve("3")), UTF_8) == "via delegate")
    }
    withDir { dir =>
      assert(manager(dir).delegate.isEmpty)
    }
  }
}
