package graft.streaming

import java.io.{BufferedOutputStream, IOException}
import java.nio.file.{Files, NoSuchFileException, StandardCopyOption, StandardOpenOption, Path => NioPath}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException, FileStatus, FileSystem,
  Path, PathFilter, RawLocalFileSystem, UnsupportedFileSystemException}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The checkpoint file manager of [[StreamRunner]]'s streams
  * (`spark.sql.streaming.checkpointFileManagerClass`): offset, commit and
  * metadata logs and state-store files.
  *
  * On `file:` paths it writes with `java.nio` and reads and lists through
  * Hadoop's raw local file system. Spark's default manager goes through
  * `FileContext`, whose local file system sets permissions and resolves
  * links by forking `chmod` and `readlink` on every create and rename
  * where Hadoop's native library is absent: about 90 processes per st13
  * run at sf0.01. Other schemes get the manager Spark would have picked.
  *
  * `createAtomic` publishes the same way Spark's manager does: the bytes go
  * to a hidden temp file in the target's directory, and `close` renames it
  * into place. With `overwriteIfPossible` the rename replaces an existing
  * file atomically; without it the temp file is hard-linked to the target,
  * which fails with `FileAlreadyExistsException` if the target exists, as
  * the offset log's concurrent-writer check expects. `cancel` deletes the
  * temp file. Listings leave out Hadoop `.crc` side files, as the
  * checksummed local file system does.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  /** The manager for a non-`file` path. */
  private[streaming] val delegate: Option[CheckpointFileManager] =
    if (Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme) == "file") None
    else Some(try new FileContextBasedCheckpointFileManager(path, hadoopConf) catch {
      case _: UnsupportedFileSystemException => new FileSystemBasedCheckpointFileManager(path, hadoopConf)
    })

  private lazy val raw: RawLocalFileSystem =
    FileSystem.getLocal(hadoopConf).getRawFileSystem.asInstanceOf[RawLocalFileSystem]

  private def local(p: Path): NioPath = raw.pathToFile(p).toPath

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate.fold[CancellableFSDataOutputStream](
      new AtomicOutput(local(p), overwriteIfPossible))(_.createAtomic(p, overwriteIfPossible))

  override def open(p: Path): FSDataInputStream = delegate.fold(raw.open(p))(_.open(p))

  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    delegate.fold(raw.listStatus(p, (f: Path) => !isCrc(f) && filter.accept(f)))(_.list(p, filter))

  override def mkdirs(p: Path): Unit =
    delegate.fold[Unit](Files.createDirectories(local(p)))(_.mkdirs(p))

  override def exists(p: Path): Boolean = delegate.fold(Files.exists(local(p)))(_.exists(p))

  /** Deletes a file or a directory tree; a missing path is not an error. */
  override def delete(p: Path): Unit = delegate.fold(deleteTree(local(p)))(_.delete(p))

  override def isLocal: Boolean = delegate.fold(true)(_.isLocal)

  override def createCheckpointDirectory(): Path = delegate.fold {
    val qualified = raw.makeQualified(path)
    Files.createDirectories(local(qualified))
    qualified
  }(_.createCheckpointDirectory())

  override def close(): Unit = delegate.foreach(_.close())
}

object LocalCheckpointFileManager {

  /** The conf key naming a checkpoint file manager; `CheckpointFileManager.create`
    * reads it from the Hadoop conf, where a session's SQL conf is copied.
    */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  private def isCrc(p: Path): Boolean = {
    val n = p.getName
    n.startsWith(".") && n.endsWith(".crc")
  }

  private[streaming] def deleteTree(p: NioPath): Unit =
    try {
      if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
        val s = Files.list(p)
        try s.forEach(c => deleteTree(c)) finally s.close()
      }
      Files.deleteIfExists(p)
    } catch { case _: NoSuchFileException => () } // deleted concurrently

  /** Writes `target`'s bytes to a hidden temp file beside it and publishes
    * them on `close`; `cancel` or a failed publish leaves no temp file.
    */
  private final class AtomicOutput(target: NioPath, overwrite: Boolean, temp: NioPath)
      extends CancellableFSDataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(temp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE), 1 << 16)) {

    def this(target: NioPath, overwrite: Boolean) =
      this(target, overwrite, target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp"))

    private var ended = false

    override def close(): Unit = synchronized {
      if (!ended) {
        ended = true
        try {
          super.close()
          if (overwrite) Files.move(temp, target, StandardCopyOption.ATOMIC_MOVE,
            StandardCopyOption.REPLACE_EXISTING)
          else try Files.createLink(target, temp) catch {
            case _: java.nio.file.FileAlreadyExistsException =>
              throw new FileAlreadyExistsException(s"$target already exists")
          }
        } finally Files.deleteIfExists(temp)
      }
    }

    override def cancel(): Unit = synchronized {
      if (!ended) {
        ended = true
        try super.close() catch { case _: IOException => () }
        finally Files.deleteIfExists(temp)
      }
    }
  }
}
