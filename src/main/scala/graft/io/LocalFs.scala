package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Hadoop's `file:` scheme without its two per-file process spawns.
  *
  * Without the `libhadoop` native library, `RawLocalFileSystem` forks
  * `chmod` for every permission it sets (each file create, each mkdir)
  * and `readlink` for every `getFileLinkStatus` (twice per `FileContext`
  * rename). Spark's streaming checkpoint and state-store file managers,
  * the parquet sink and `FileOutputCommitter` run those calls for every
  * file they write, at ~4 ms per spawn in a 4 GB-heap JVM. Both
  * overrides below keep the stock result:
  *
  *  - `setPermission` sets the same rwx bits (`toShort`, as the stock
  *    `chmod` call reads them; `FileSystem.create`'s `FsCreateModes`
  *    prints differently) through `java.nio`; a mode with the sticky bit
  *    (which `java.nio` cannot express) takes the stock path.
  *  - `getFileLinkStatus` of a path that is not a symlink is its
  *    `getFileStatus` — what the stock code returns once `readlink`
  *    answers "" (for a qualified `file:` path `readlink` always fails,
  *    so that was every call Spark made). A real symlink takes the
  *    stock path.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(new FsPermission(permission.toShort).toString))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `FileSystem` API over the raw FS.
  * Without the key, Spark's classpath registers hive-exec's
  * `ProxyLocalFileSystem` for `file:` (its service file is read after
  * Hadoop's), a `LocalFileSystem` whose one change is that a rename onto
  * an existing file fails instead of replacing it; that answer is kept. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean =
    !isFile(dst) && super.rename(src, dst)
}

/** The raw FS behind the `FileContext` API, with stock `RawLocalFs`'s
  * port, server defaults and name check. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: the checksummed `FileContext` API
  * (Spark's streaming checkpoint and state-store file manager). */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))

object LocalFs {
  /** Sets both Hadoop entry points of the `file:` scheme on `b`. Must run
    * before `getOrCreate`: Hadoop caches `FileSystem` instances per
    * scheme for the JVM, so a key set later is silently ignored. */
  def apply(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
      classOf[NioLocalFs].getName)
}
