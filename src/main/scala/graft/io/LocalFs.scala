package graft.io

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, LocalFileSystem, Path,
  PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** Hadoop's local filesystem (checksummed, `.crc` sidecars included),
  * minus its child processes.
  *
  * Without `libhadoop` on the library path, Hadoop's
  * `RawLocalFileSystem.setPermission` runs a `chmod` child process, and
  * every file it creates and every directory it makes with a permission
  * goes through it. A streaming query writes several such files per
  * micro-batch (state-store deltas, offset and commit logs, sink part
  * files and their `_temporary` directories), so a fork is a fixed
  * per-file cost of every batch. Here the raw filesystem sets the
  * same permission bits through `java.nio`; everything else is Hadoop's
  * own code, so file names, checksums and layout are unchanged.
  *
  * It is installed for the whole JVM: `core-site.xml` on graft's
  * classpath sets `fs.file.impl` to this class, so every Hadoop conf
  * (each session's, and a plain `new Configuration()`) resolves `file:`
  * to it. The FS cache is keyed by scheme, not by conf, so with every
  * conf naming the same class it can only ever hold this one. The same
  * file selects [[LocalCheckpointFileManager]] for streaming
  * checkpoints. A deployment whose own `core-site.xml` comes earlier on
  * the classpath gets Hadoop's defaults back: the forks return, results
  * do not change. */
class LocalFs extends LocalFileSystem(new LocalFs.NioRawLocalFs)

object LocalFs {

  /** `RawLocalFileSystem` whose `setPermission` maps the `FsPermission`
    * bits onto `Files.setPosixFilePermissions` instead of forking
    * `chmod`. The sticky bit has no NIO form; no local file Hadoop
    * creates carries it. A filesystem without POSIX attributes falls
    * back to Hadoop's own implementation. */
  private[io] class NioRawLocalFs extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val bits = PosixFilePermissions.fromString(Seq(permission.getUserAction,
        permission.getGroupAction, permission.getOtherAction).map(_.SYMBOL).mkString)
      try Files.setPosixFilePermissions(pathToFile(p).toPath, bits): Unit
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }
}

/** Streaming checkpoint manager that keeps local checkpoints off child
  * processes (`spark.sql.streaming.checkpointFileManagerClass`, set for
  * the whole JVM by `core-site.xml`).
  *
  * Spark's default manager goes through Hadoop's `FileContext`, whose
  * local rename probes both paths with `getFileLinkStatus`; without
  * `libhadoop` each probe forks `readlink`, and each created file
  * forks `chmod`. For `file:` paths this manager is Spark's
  * `FileSystemBasedCheckpointFileManager` over [[LocalFs]]: a rename
  * is one `rename(2)` on the local disk, atomic and without a probe,
  * and the `.crc` sidecars and file names are Hadoop's, so a checkpoint
  * resumes under either manager. Every other scheme goes to Spark's
  * default `FileContextBasedCheckpointFileManager`, unchanged. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[graft] val delegate: CheckpointFileManager = {
    val scheme = Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(hadoopConf).getScheme)
    if (scheme == "file") new FileSystemBasedCheckpointFileManager(path, hadoopConf)
    else new FileContextBasedCheckpointFileManager(path, hadoopConf)
  }

  override def createAtomic(path: Path,
      overwriteIfPossible: Boolean): CheckpointFileManager.CancellableFSDataOutputStream =
    delegate.createAtomic(path, overwriteIfPossible)
  override def open(path: Path): FSDataInputStream = delegate.open(path)
  override def list(path: Path, filter: PathFilter): Array[FileStatus] = delegate.list(path, filter)
  override def list(path: Path): Array[FileStatus] = delegate.list(path)
  override def mkdirs(path: Path): Unit = delegate.mkdirs(path)
  override def exists(path: Path): Boolean = delegate.exists(path)
  override def delete(path: Path): Unit = delegate.delete(path)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}
