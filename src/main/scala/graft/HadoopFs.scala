package graft

import java.io.{File, IOException}
import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FileSystem, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.SparkSession

/** ONE place that resolves a path to its Hadoop filesystem with the
  * SESSION's configuration. Every driver-side filesystem touchpoint in
  * this repo (sink commit manifests, checkpoint introspection, the
  * exactly-once `_SUCCESS` probe) must go through here: a bare
  * `new Configuration()` misses `spark.hadoop.*` overrides (fs.defaultFS,
  * object-store credentials), and a `java.io.File` probe on an
  * hdfs://-or-s3a path silently answers against the driver's LOCAL disk
  * — both bug classes were found (and re-found) in separate files before
  * this helper existed. */
object HadoopFs {

  def sessionConf(): Configuration =
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  /** The path's filesystem under the session conf, plus the parsed path. */
  def get(path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(sessionConf()), p)
  }

  /** The two Hadoop keys that put [[ForkFreeRawLocalFileSystem]] under
    * `file:`: the `FileSystem` path (parquet parts, `_temporary`,
    * `_SUCCESS`, sink manifests) and the `FileContext` path (the
    * offsets/commits/sources logs and the state store's deltas). Both
    * keep Hadoop's checksummed wrapper, so every `.crc` file stays. */
  val forkFreeLocal: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName)

  /** [[forkFreeLocal]] as `spark.hadoop.*` session configs. */
  val forkFreeLocalConfs: Map[String, Any] =
    forkFreeLocal.map { case (k, v) => s"spark.hadoop.$k" -> v }.toMap

  /** Write each [[forkFreeLocal]] key into `conf` unless something other
    * than Hadoop's own defaults set it: a user's value is their opt-out.
    * `FileSystem.get` caches one `file:` instance per JVM, so this must
    * run before the first `file:` FileSystem is built; `FileContext`
    * reads its key on every call. */
  def useForkFreeLocal(conf: Configuration): Unit =
    forkFreeLocal.foreach { case (k, v) =>
      if (!Option(conf.getPropertySources(k)).exists(_.exists(_ != "core-default.xml")))
        conf.set(k, v)
    }
}

/** Hadoop's `RawLocalFileSystem` minus the OS processes it starts when
  * libhadoop is absent: one `chmod` per `setPermission` (every local
  * create and mkdir with a mode) and one `readlink` per
  * `getFileLinkStatus` (every `FileContext` rename). Files, modes and
  * rename semantics are Hadoop's; only the processes go. Each override
  * defers to the stock method wherever its answer could differ. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` through `java.nio`. Stock is kept for native chmod (no
    * process), a sticky bit (not expressible as POSIX permissions), and
    * wherever [[ForkFreeRawLocalFileSystem.chmod]] declines. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (NativeIO.isAvailable || permission.getStickyBit ||
        !ForkFreeRawLocalFileSystem.chmod(pathToFile(p).toPath, permission.toShort))
      super.setPermission(p, permission)

  /** The stock method runs `readlink` on `new File(f.toString)` and, when
    * that is no symlink, returns exactly `getFileStatus(f)`. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object ForkFreeRawLocalFileSystem {
  private val bits = PosixFilePermission.values // owner read first: mode bit 8 down to 0

  /** Set `f`'s permission bits to `mode`, or return false without
    * touching it: for a directory carrying setuid/setgid (GNU
    * `chmod 0755` keeps those bits on directories, `chmod(2)` clears
    * them), and for any store or path nio cannot serve, which the stock
    * method then fails on as it always did. */
  private def chmod(f: NioPath, mode: Short): Boolean =
    try {
      val old = Files.getAttribute(f, "unix:mode").asInstanceOf[Int]
      val dirWithIds = (old & 0xF000) == 0x4000 && (old & 0xC00) != 0
      if (!dirWithIds) {
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        bits.indices.foreach(i => if ((mode & (1 << (8 - i))) != 0) perms.add(bits(i)))
        Files.setPosixFilePermissions(f, perms)
      }
      !dirWithIds
    } catch { case _: UnsupportedOperationException | _: IOException => false }
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over
  * [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` (a `ChecksumFs`
  * over `RawLocalFs`) over [[ForkFreeRawLocalFileSystem]]. Like `LocalFs`
  * it serves `file:///` whatever URI it is built with. */
class ForkFreeLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new ForkFreeRawLocalFs(conf))

/** Hadoop's `RawLocalFs`, whose constructors are package-private, with
  * the same four overrides. */
class ForkFreeRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
