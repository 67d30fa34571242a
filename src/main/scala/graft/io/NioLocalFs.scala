package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system without its forks. With no libhadoop,
  * `RawLocalFileSystem` runs `chmod` for every file create and mkdir and
  * `readlink` for every link-status probe (two per `FileContext` rename);
  * here java.nio does both. Files, permission bits and, through the two
  * checksummed wrappers below, `.crc` sidecars are Hadoop's own.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** java.nio cannot set the sticky bit, so that case stays Hadoop's. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(permission.toString))

  /** Probes the path string Hadoop's `readlink` gets; only a link pays
    * Hadoop's own call.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new java.io.File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: Hadoop's `LocalFileSystem` over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {

  /** Never over an existing file (HDFS's contract), as the `file:` class
    * Spark's jars register in Hadoop's stead, Hive's `ProxyLocalFileSystem`.
    */
  override def rename(src: Path, dst: Path): Boolean = !isFile(dst) && super.rename(src, dst)
}

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` (the
  * `FileContext` side) over [[NioRawLocalFileSystem]]; like `LocalFs`, it
  * ignores `uri`.
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
  new DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf, "file", false) {
    // what Hadoop's RawLocalFs changes of its base
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  })
