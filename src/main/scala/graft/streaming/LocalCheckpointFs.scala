package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.DataStreamReader

/** The `file:` `AbstractFileSystem` under graft's stream checkpoints: the
  * offset and commit logs and the executors' state-store files, all
  * written through Spark's `FileContext` checkpoint manager.
  *
  * Without libhadoop, Hadoop's stock `LocalFs` forks a process for two
  * calls: `chmod` on every create and mkdir, and `readlink` twice per
  * rename (`AbstractFileSystem.renameInternal` and `FileSystem.rename`
  * both ask for the link status). That was ~100 forks per micro-batch.
  * Here both go through java.nio; the shape is Hadoop's own (`LocalFs` =
  * `ChecksumFs` over `RawLocalFs`), so the CRC files and the atomic
  * rename are as before.
  *
  * Stock results are kept: Hadoop hands `readlink` the qualified `file:/…`
  * string, which never names a file, so on any path that is not a symlink
  * the stock link status is `getFileStatus(f)` (a missing path throws
  * `FileNotFoundException`). A real symlink, and a permission that
  * `PosixFilePermission` cannot express (the sticky bit), go to the stock
  * code.
  *
  * Hadoop builds it through the (URI, Configuration) constructor; like
  * `LocalFs`, it ignores the URI. */
final class LocalCheckpointFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new LocalCheckpointFs.RawFs(conf))

object LocalCheckpointFs {
  private val Key = "fs.AbstractFileSystem.file.impl"
  private val Stock = "org.apache.hadoop.fs.local.LocalFs"

  /** The session's stream reader, with checkpoint I/O on this filesystem.
    * Every `readStream` in graft goes through here. Spark copies session
    * conf into each query's Hadoop conf, so the setting reaches the offset
    * and commit logs and the executors' state stores; `AbstractFileSystem`s
    * are not cached, so none built before it lingers. A conf that already
    * names a filesystem other than the stock one is left alone. */
  def readStream(s: SparkSession): DataStreamReader = {
    if (s.sessionState.newHadoopConf().get(Key) == Stock)
      s.conf.set(Key, classOf[LocalCheckpointFs].getName)
    s.readStream
  }

  /** Hadoop's `RawLocalFs`, over `Raw`. */
  final class RawFs(conf: Configuration)
      extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new Raw, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** `RawLocalFileSystem` without the shell-outs. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val bits = permission.toShort
      if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        // PosixFilePermission.values runs owner r,w,x … others x: bits 8 … 0
        val set = PosixFilePermission.values.zipWithIndex.collect {
          case (perm, i) if (bits & (1 << (8 - i))) != 0 => perm
        }
        Files.setPosixFilePermissions(pathToFile(p).toPath, set.toSet.asJava)
      }
    }

    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }
}
