package graft.streaming

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, StandardCopyOption}
import java.nio.file.attribute.PosixFilePermission
import java.util.UUID

import scala.util.Try
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileAlreadyExistsException,
  FileStatus, FileSystem, LocalFileSystem, Path, PathFilter, RawLocalFileSystem,
  UnsupportedFileSystemException}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** Structured Streaming's checkpoint file manager for local paths,
  * without child processes. Every trigger publishes an offset-log
  * entry, a commit-log entry and one state-store delta per shuffle
  * partition, each with its checksum files. Without libhadoop, Spark's
  * default manager pays for each of them in forks: Hadoop's `Shell`
  * runs `chmod` on every create and mkdir and `readlink` on every
  * `FileContext.rename`.
  *
  * `file:` paths, and scheme-less ones when the default file system is
  * local, go to [[NioCheckpointFileManager]]. Every other scheme goes
  * to the manager Spark itself would pick, unchanged, so HDFS and
  * object stores keep a single code path. Selected through Spark's
  * `spark.sql.streaming.checkpointFileManagerClass`, which Spark reads
  * for the offset, commit and source logs and for the state-store
  * files that tasks write; [[LocalCheckpointFileManager.install]] sets
  * it. The on-disk layout is Spark's, so a checkpoint written under
  * either manager resumes under the other. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[graft] val underlying: CheckpointFileManager =
    if (LocalCheckpointFileManager.isLocal(path, hadoopConf))
      new NioCheckpointFileManager(path, hadoopConf)
    else LocalCheckpointFileManager.sparkDefault(path, hadoopConf)

  override def createAtomic(
      p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = underlying.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    underlying.list(p, filter)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path =
    underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object LocalCheckpointFileManager {
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Select this manager for the session's streaming queries, unless
    * the session already names a manager: an explicit choice wins
    * (set [[ConfKey]] to Spark's
    * `FileContextBasedCheckpointFileManager` to keep Spark's default).
    * Idempotent; call it before `start()`, which snapshots the conf. */
  def install(spark: SparkSession): Unit =
    if (spark.conf.getOption(ConfKey).isEmpty)
      spark.conf.set(ConfKey, classOf[LocalCheckpointFileManager].getName)

  private def isLocal(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** What `CheckpointFileManager.create` picks when no class is set. */
  private def sparkDefault(path: Path, conf: Configuration): CheckpointFileManager =
    try new FileContextBasedCheckpointFileManager(path, conf)
    catch {
      case _: UnsupportedFileSystemException =>
        new FileSystemBasedCheckpointFileManager(path, conf)
    }
}

/** The local half of [[LocalCheckpointFileManager]].
  *
  * Writes go through Hadoop's `LocalFileSystem`, so every file still
  * gets its `.crc` sidecar and `open` still verifies it; underneath, a
  * `RawLocalFileSystem` sets modes with `Files.setPosixFilePermissions`
  * instead of running `chmod` (same modes: Hadoop's defaults under the
  * configured umask). A publish writes a temp file named as Spark names
  * it and renames it with java.nio, moving the `.crc` along:
  *  - overwrite: `ATOMIC_MOVE`, i.e. rename(2);
  *  - no overwrite: claim the name with a hard link, which fails if the
  *    name exists. `HDFSMetadataLog` relies on this to detect a
  *    concurrent writer, so there is no window between an existence
  *    check and the rename. A local file system without hard links
  *    fails the publish; keep Spark's default manager there.
  * A publish that fails, and `cancel()`, remove the temp file and its
  * `.crc`. */
private[graft] final class NioCheckpointFileManager(path: Path, conf: Configuration)
    extends CheckpointFileManager {
  import NioCheckpointFileManager._

  private val fs: LocalFileSystem = {
    val f = new LocalFileSystem(new NioRawLocalFileSystem)
    f.initialize(URI.create("file:///"), conf)
    f
  }

  private def nio(p: Path): java.nio.file.Path = fs.pathToFile(p).toPath

  override def createAtomic(
      p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream = {
    val temp = new Path(p.getParent, s".${p.getName}.${UUID.randomUUID}.tmp")
    // like Spark's FileContext create: no parent directories on the way
    val out = fs.createNonRecursive(temp,
      FsPermission.getFileDefault.applyUMask(FsPermission.getUMask(conf)), true,
      fs.getConf.getInt("io.file.buffer.size", 4096),
      fs.getDefaultReplication(temp), fs.getDefaultBlockSize(temp), null)
    new CancellableFSDataOutputStream(out) {
      private var terminated = false
      override def close(): Unit = synchronized {
        if (!terminated) {
          terminated = true
          try {
            underlyingStream.close()
            publish(temp, p, overwriteIfPossible)
          } catch { case NonFatal(e) => Try(delete(temp)); throw e }
        }
      }
      // never throws, like Spark's: callers cancel while handling a failure
      override def cancel(): Unit = synchronized {
        if (!terminated) {
          terminated = true
          Try(underlyingStream.close())
          Try(delete(temp))
        }
      }
    }
  }

  private def publish(src: Path, dst: Path, overwrite: Boolean): Unit = {
    val (from, to) = (nio(src), nio(dst))
    if (overwrite) Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)
    else {
      try Files.createLink(to, from)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new FileAlreadyExistsException(s"rename destination $dst already exists.")
      }
      Files.delete(from)
    }
    Files.move(nio(fs.getChecksumFile(src)), nio(fs.getChecksumFile(dst)),
      StandardCopyOption.ATOMIC_MOVE)
  }

  override def open(p: Path): FSDataInputStream = fs.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    fs.listStatus(p, filter)
  override def mkdirs(p: Path): Unit = fs.mkdirs(p)
  override def exists(p: Path): Boolean = fs.exists(p)
  override def delete(p: Path): Unit =
    try fs.delete(p, true) catch { case _: FileNotFoundException => }
  override def isLocal: Boolean = true
  override def createCheckpointDirectory(): Path = {
    val qualified = fs.makeQualified(path)
    fs.mkdirs(qualified)
    qualified
  }
}

private object NioCheckpointFileManager {

  /** `RawLocalFileSystem` whose `setPermission` is a system call, not a
    * `chmod` child process (used by every create and mkdir). */
  final class NioRawLocalFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  /** rwxrwxrwx bits, high to low, in `PosixFilePermission`'s order. */
  def posix(permission: FsPermission): java.util.Set[PosixFilePermission] = {
    val mode = permission.toShort.toInt
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (bit, i) =>
      if ((mode >> (8 - i) & 1) == 1) set.add(bit)
    }
    set
  }
}
