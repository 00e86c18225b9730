package graft.core

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import scala.jdk.CollectionConverters._

/** Hadoop's raw local file system without a process per file. Where
  * libhadoop is absent, `RawLocalFileSystem` forks `chmod` for every
  * file and directory it creates and `readlink` for every link-status
  * lookup (each checkpoint rename) — milliseconds per fork from a
  * large JVM, against microseconds for the same `java.nio` call. The
  * two overrides make those calls in-process with the same outcome;
  * everything else is Hadoop's own. [[ClusterConf.LocalFsConfs]]
  * installs it, checksummed, for both Hadoop file APIs.
  */
class LocalFs extends RawLocalFileSystem {

  /** The same permission bits through `java.nio`; Hadoop's own call
    * where the store has no POSIX view or the sticky bit is asked for.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    // PosixFilePermission lists OWNER_READ … OTHERS_EXECUTE: mode bits 8 … 0
    val perms = PosixFilePermission.values.filter(b => (mode & (0x100 >> b.ordinal)) != 0).toSet
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath, perms.asJava)
    catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  /** A path that is not a symlink has its plain status; Hadoop's own
    * lookup serves real (or dangling) symlinks.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object LocalFs {

  /** `fs.file.impl`: [[LocalFs]] under Hadoop's checksummed wrapper. */
  class Checked extends LocalFileSystem(new LocalFs)

  /** `fs.AbstractFileSystem.file.impl` (the `FileContext` API that
    * streaming checkpoints use): [[LocalFs]] checksummed, as Hadoop's
    * `local.LocalFs` wraps its raw twin.
    */
  class Context(uri: URI, conf: Configuration) extends ChecksumFs(new Raw(uri, conf))

  /** Hadoop's `local.RawLocalFs` over [[LocalFs]]. */
  private class Raw(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new LocalFs, conf, "file", false) {
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    // local file systems differ in their naming rules; leave it to the store
    override def isValidName(src: String): Boolean = true
  }
}
