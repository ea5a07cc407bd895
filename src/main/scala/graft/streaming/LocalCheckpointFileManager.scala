package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** Streaming checkpoint I/O (offset and commit logs) that starts no
  * process on local disk.
  *
  * Without Hadoop's native library, Spark's default manager shells out
  * on every log write: `FileContext.rename` runs `readlink`, and
  * `RawLocalFileSystem.setPermission` runs `chmod` — about 20 processes
  * per micro-batch on the stream execution thread. For a `file:` path
  * this manager is Spark's `FileSystemBasedCheckpointFileManager` (rename
  * through `FileSystem.rename`) over a checksummed `LocalFileSystem`
  * whose permissions are set through `java.nio`: same modes, same `.crc`
  * sidecars checked on read, same no-overwrite rename. Every other scheme
  * gets `CheckpointFileManager.create`'s manager, unchanged.
  * [[graft.Graft.prepare]] installs it as the session's
  * `spark.sql.streaming.checkpointFileManagerClass`. */
final class LocalCheckpointFileManager(path: Path, conf: Configuration) extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private[streaming] val underlying: CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    val c = new Configuration(conf)
    if (scheme == "file") {
      c.setClass("fs.file.impl", classOf[NioLocalFileSystem], classOf[FileSystem])
      c.setBoolean("fs.file.impl.disable.cache", true) // the cached "file" instance is the shelling one
      new FileSystemBasedCheckpointFileManager(path, c)
    } else {
      c.unset(ClassKey) // it names this class: Spark's default choice, not a recursion
      CheckpointFileManager.create(path, c)
    }
  }

  def createAtomic(p: Path, overwriteIfPossible: Boolean): CheckpointFileManager.CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  def open(p: Path): FSDataInputStream = underlying.open(p)
  def list(p: Path, filter: PathFilter): Array[FileStatus] = underlying.list(p, filter)
  def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  def exists(p: Path): Boolean = underlying.exists(p)
  def delete(p: Path): Unit = underlying.delete(p)
  def isLocal: Boolean = underlying.isLocal
  def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object LocalCheckpointFileManager {
  /** Spark's session conf naming the checkpoint manager class. */
  val ClassKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** `LocalFileSystem` (checksummed) over [[NioRawLocalFileSystem]]. */
  final class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

  /** Sets permission bits with `Files.setPosixFilePermissions` instead of
    * a `chmod` process (also used by `mkdirs`). */
  final class NioRawLocalFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val bits = permission.toShort
      // PosixFilePermission lists owner r/w/x … others r/w/x: bit 8 down to 0
      val perms = PosixFilePermission.values.filter(q => (bits & (1 << (8 - q.ordinal))) != 0)
      Files.setPosixFilePermissions(pathToFile(p).toPath, java.util.Set.of(perms: _*))
    }
  }
}
