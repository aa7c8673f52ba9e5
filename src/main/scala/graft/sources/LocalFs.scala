package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The local (`file:`) filesystem without process spawns.
  *
  * Without libhadoop, Hadoop's `RawLocalFileSystem.setPermission`
  * forks a `chmod` process, and `create` and `mkdirs` call it for
  * every file (data and `.crc`) and directory they make: ~3.4 ms of
  * wall and ~2 ms of JVM CPU per spawn from a 2 GB JVM on a 4-core
  * Xeon host, against ~10 µs for `Files.setPosixFilePermissions`.
  * This is a checksummed `LocalFileSystem`, so `.crc` sidecars are
  * written and verified on read as before, over a raw filesystem that
  * sets permissions in process.
  *
  * Hadoop builds it by name where `fs.file.impl` names it (the stream
  * scope, [[graft.streaming.Streams.withForkFreeCheckpoints]]); the rq
  * source and sink and the checkpoint manager share one instance,
  * [[LocalFs.fs]].
  */
final class ForkFreeLocalFileSystem
    extends LocalFileSystem(new LocalFs.NioPermissions)

private[graft] object LocalFs {

  /** `RawLocalFileSystem` with an in-process `setPermission`. A sticky
    * bit, which `java.nio` cannot set, still goes to Hadoop's chmod.
    */
  private[sources] final class NioPermissions extends RawLocalFileSystem {
    override def setPermission(p: Path, perm: FsPermission): Unit =
      if (perm.getStickyBit) super.setPermission(p, perm)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(perm.getUserAction.SYMBOL +
          perm.getGroupAction.SYMBOL + perm.getOtherAction.SYMBOL))
  }

  /** One per JVM, built once like [[RqTableProvider.hadoopConf]];
    * Hadoop's own cached `file` FS also keeps the first
    * `Configuration` it was built with.
    */
  lazy val fs: LocalFileSystem = {
    val conf = RqTableProvider.hadoopConf
    val local = new ForkFreeLocalFileSystem
    local.setConf(conf)
    local.initialize(URI.create("file:///"), conf)
    local
  }

  /** Whether `p` resolves to the local filesystem under `conf`. */
  def isLocal(p: Path, conf: Configuration): Boolean =
    Option(p.toUri.getScheme)
      .getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"
}
