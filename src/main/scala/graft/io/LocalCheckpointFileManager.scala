package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, LocalFileSystem, Path,
  PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** A Spark [[CheckpointFileManager]] for `file:` checkpoints that never
  * forks a process. Opt in with
  * `spark.sql.streaming.checkpointFileManagerClass=graft.io.LocalCheckpointFileManager`;
  * every non-`file:` path goes to the engine's default manager unchanged.
  *
  * Why: without the native `libhadoop`, Hadoop's local file system sets
  * every permission by forking `chmod`, and the engine default
  * (`FileContextBasedCheckpointFileManager`) also forks `readlink` per
  * rename — about ten processes per atomic checkpoint file, 29–36 ms for a
  * 100-byte offset-log entry on a 4-vCPU VM (0.45–0.6 ms with java.nio).
  * Every micro-batch writes several such files
  * (offset log, commit log, state-store deltas), on its critical path.
  *
  * How: Spark's own `FileSystemBasedCheckpointFileManager` (temp file +
  * rename, `FileAlreadyExistsException` when the target exists and
  * overwrite is off) over a checksummed [[LocalFileSystem]] whose raw
  * layer sets modes through `java.nio` instead of a `chmod` process. So
  * the guarantees are the default manager's: atomic publish by rename, a
  * `.crc` sidecar verified on read, the same file and directory modes. */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[graft] val underlying: CheckpointFileManager =
    if (path.getFileSystem(hadoopConf).getUri.getScheme == "file")
      new LocalCheckpointFileManager.ForkFree(path, hadoopConf)
    else LocalCheckpointFileManager.engineDefault(path, hadoopConf)

  override def createAtomic(p: Path, overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = underlying.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = underlying.list(p, filter)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object LocalCheckpointFileManager {

  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** The manager the engine picks when [[ConfKey]] is unset. */
  private[graft] def engineDefault(path: Path, hadoopConf: Configuration): CheckpointFileManager = {
    val conf = new Configuration(hadoopConf)
    conf.unset(ConfKey)
    CheckpointFileManager.create(path, conf)
  }

  private final class ForkFree(path: Path, hadoopConf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {
    override protected val fs: FileSystem = {
      val local = new ChecksummedLocal(new NioModeRawLocal)
      local.setConf(hadoopConf)
      local.initialize(URI.create("file:///"), hadoopConf)
      local
    }
  }

  /** The raw local file system with `chmod` replaced by
    * `Files.setPosixFilePermissions` — the only place it forks on the
    * create / mkdirs / rename / delete paths a checkpoint uses. */
  private final class NioModeRawLocal extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val bits = permission.toShort
      val modes = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // PosixFilePermission is declared owner rwx, group rwx, others rwx:
      // the same order as mode bits 8 down to 0
      PosixFilePermission.values.zipWithIndex.foreach { case (m, i) =>
        if ((bits & (1 << (8 - i))) != 0) modes.add(m)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, modes)
    }
  }

  /** A checksum failure leaves the file in place and fails the read, as
    * the default manager's `ChecksumFs` does; [[LocalFileSystem]] would
    * instead fork `df` and move the file into a `bad_files` directory. */
  private final class ChecksummedLocal(raw: FileSystem) extends LocalFileSystem(raw) {
    override def reportChecksumFailure(p: Path, in: FSDataInputStream, inPos: Long,
                                       sums: FSDataInputStream, sumsPos: Long): Boolean = false
  }
}
