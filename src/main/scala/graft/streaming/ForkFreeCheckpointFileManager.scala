package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FSDataInputStream, Path, PathFilter, UnsupportedFileSystemException}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

import graft.sources.LocalFs

/** The checkpoint file manager of every stream query the program
  * starts ([[Streams.withForkFreeCheckpoints]]); Spark instantiates it
  * by name from `spark.sql.streaming.checkpointFileManagerClass`.
  *
  * For `file:` checkpoints it is Spark's
  * `FileSystemBasedCheckpointFileManager` over [[LocalFs.fs]]. Spark's
  * default, the `FileContext` manager, forks a `readlink` process on
  * every rename, and the local filesystem forks a `chmod` on every
  * file and directory it creates; the offset and commit logs and
  * every state-store file pay both. This one renames with
  * `FileSystem.rename` and sets permissions in process, so it spawns
  * nothing. Its files are the same: data plus a `.crc` sidecar that
  * is verified on read, and a no-overwrite `createAtomic` onto an
  * existing file still fails with `FileAlreadyExistsException`.
  *
  * Every other scheme gets Spark's default manager, built here
  * directly (`CheckpointFileManager.create` would return this class):
  * the `FileContext` manager, or the `FileSystem` one where the scheme
  * has no `AbstractFileSystem`.
  */
final class ForkFreeCheckpointFileManager(path: Path,
    hadoopConf: Configuration) extends CheckpointFileManager {

  private[graft] val underlying: CheckpointFileManager =
    if (LocalFs.isLocal(path, hadoopConf))
      new FileSystemBasedCheckpointFileManager(path, hadoopConf) {
        override protected val fs: FileSystem = LocalFs.fs
      }
    else
      try new FileContextBasedCheckpointFileManager(path, hadoopConf)
      catch { case _: UnsupportedFileSystemException =>
        new FileSystemBasedCheckpointFileManager(path, hadoopConf)
      }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CancellableFSDataOutputStream =
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
