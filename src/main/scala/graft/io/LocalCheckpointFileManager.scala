package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** A [[CheckpointFileManager]] for local checkpoints that forks no process.
  *
  * Without the native Hadoop library, Hadoop's local file system sets the
  * permissions of every file and directory it creates by forking `chmod`
  * (`RawLocalFileSystem.setPermission` → `Shell.execCommand`), and the
  * engine's default `FileContext`-based manager also forks `stat` on every
  * rename. A micro-batch writes an offset-log entry, a commit-log entry, a
  * source-log entry and one state file per store, each a create plus a
  * rename, so that forking — about 40 ms per published 512-byte file with
  * the engine default, against 0.6 ms with this manager (4-core x86 host,
  * JDK 17) — was most of the per-batch checkpoint cost of a small stateful
  * stream.
  *
  * For `file:` paths (and scheme-less paths when the default file system is
  * local) this manager is the engine's FileSystem-based manager over a
  * checksummed [[LocalFileSystem]] whose raw layer sets permissions through
  * `java.nio.file.Files.setPosixFilePermissions`: the same nine permission
  * bits, no forked process. Everything else is the engine's: `createAtomic`
  * writes a temp file in the target's directory and renames it into place,
  * failing if the target exists unless `overwriteIfPossible`; `.crc`
  * sidecars are written beside every file and verified on read; `cancel`
  * deletes the temp file. Any other scheme gets the engine default manager.
  *
  * Install it with
  * `spark.sql.streaming.checkpointFileManagerClass=graft.io.LocalCheckpointFileManager`
  * (the engine instantiates it by reflection with `(Path, Configuration)`).
  * The library's own drains set it for their run when the caller has set no
  * manager — see `StatefulQueries.withStreamConf`. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import LocalCheckpointFileManager._

  private val delegate: CheckpointFileManager =
    if (isLocalPath(path, hadoopConf)) new ForkFreeManager(path, hadoopConf)
    else engineDefault(path, hadoopConf)

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()

  /** The manager calls go to; exposed for the spec. */
  private[graft] def underlying: CheckpointFileManager = delegate
}

object LocalCheckpointFileManager {
  /** The engine setting that selects the manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  private def isLocalPath(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** What the engine builds when no manager class is set. */
  private def engineDefault(path: Path, conf: Configuration): CheckpointFileManager = {
    val c = new Configuration(conf)
    c.unset(ConfKey)
    CheckpointFileManager.create(path, c)
  }

  /** The engine's FileSystem-based manager, over the fork-free file system.
    * The superclass still looks up the cached `file:` FileSystem in its
    * constructor (a cache hit); every method reads `fs` through this
    * override. */
  private final class ForkFreeManager(path: Path, conf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, conf) {
    override val fs: FileSystem = localFs(conf)
  }

  /** `RawLocalFileSystem` with `setPermission` done in-process. The sticky
    * and set-id bits have no `java.nio` form; checkpoint files and
    * directories never carry them. */
  private final class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val bits = permission.toShort
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // PosixFilePermission lists owner/group/others × read/write/execute
      // in the order of the octal bits 0400 … 0001
      PosixFilePermission.values().foreach { pp =>
        if ((bits & (0x100 >> pp.ordinal)) != 0) perms.add(pp)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }
  }

  /** One checksummed fork-free local file system for the JVM, shared by
    * every manager the way Hadoop's FileSystem cache shares the `file:`
    * instance: made on first use from that manager's configuration, never
    * closed (it holds no resources beyond its statistics). */
  @volatile private var shared: LocalFileSystem = _

  private def localFs(conf: Configuration): LocalFileSystem = {
    if (shared == null) synchronized {
      if (shared == null) {
        val fs = new LocalFileSystem(new ForkFreeRawLocalFileSystem)
        fs.initialize(URI.create("file:///"), conf)
        shared = fs
      }
    }
    shared
  }
}
