package graft.fs

import java.io.IOException
import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.TaskContext

/** `RawLocalFileSystem` whose `setPermission` makes the chmod(2) call from
  * the JVM. Without libhadoop the stock class forks a `chmod` process
  * for it, and it calls it on every `create` (`LocalFSFileOutputStream`)
  * and for every new directory (`mkOneDirWithMode`) — about as costly as
  * the exec job's own per-file spawn. The mode it receives already has
  * `fs.permissions.umask-mode` applied; the sticky bit is kept.
  */
final class DirectModeLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    Files.setAttribute(pathToFile(p).toPath, "unix:mode", Int.box(permission.toShort & 0xfff)) // 07777
}

object DstFileSystem {

  /** Task-private destination FileSystem with checksum writing off (no
    * `.crc` sidecars), closed when the task completes. A new instance,
    * never the JVM-wide `FileSystem.get` cache, so the checksum flag does
    * not leak to other users of the filesystem on the executor. A `file:`
    * destination (a scheme-less one resolves against `fs.defaultFS`) gets
    * [[DirectModeLocalFileSystem]] under the stock checksum wrapper;
    * any other scheme gets `FileSystem.newInstance`.
    */
  def taskPrivate(dst: String, conf: Configuration): FileSystem = {
    val uri = new Path(dst).toUri
    val scheme = Option(uri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    val fs =
      if (scheme == "file") {
        val local = new LocalFileSystem(new DirectModeLocalFileSystem)
        local.initialize(URI.create("file:///"), conf)
        local
      } else FileSystem.newInstance(uri, conf)
    fs.setWriteChecksum(false)
    TaskContext.get() match {
      case null => ()
      case tc => tc.addTaskCompletionListener[Unit] { _ =>
        try fs.close() catch { case _: IOException => () }
      }
    }
    fs
  }
}
