package graft.sources

import java.net.URI
import java.nio.file.{FileSystems, Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/**
 * Hadoop's local filesystem without its `chmod` and `readlink` processes.
 *
 * Without the native `libhadoop` (Spark's stock distribution ships none),
 * Hadoop's `RawLocalFileSystem` forks a `chmod` process for every file it
 * creates and every directory it makes, and a `readlink` process for every
 * `FileContext` rename. A micro-batch of the `migrate-stream` benchmark
 * forked about 130 of them (offset and commit logs, state deltas, `.crc`
 * files, the sink's part files): about half of its wall time. [[Raw]] sets
 * the same permission bits through `java.nio` and answers the link probe
 * with one `lstat`; [[Local]] (`fs.file.impl`) and [[Fs]]
 * (`fs.AbstractFileSystem.file.impl`, Spark's checkpoint and state-store
 * writes) are Hadoop's own checksummed layers over it. With `libhadoop`
 * loaded Hadoop makes the same calls through JNI, and this gains nothing.
 */
object LocalFs {

  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")
  // OWNER_READ (0400) ... OTHERS_EXECUTE (0001), in declaration order
  private val permissionBits = PosixFilePermission.values.zipWithIndex
    .map { case (p, i) => p -> (0x100 >> i) }

  /** `RawLocalFileSystem` whose `chmod` and link probe run in-process. */
  class Raw extends RawLocalFileSystem {
    /** The bits Hadoop computed (its callers already applied the umask);
      * a sticky bit, which `java.nio` cannot set, goes to Hadoop's path.
      */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (!posix || permission.getStickyBit) super.setPermission(p, permission)
      else {
        val mode = permission.toShort.toInt
        val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        permissionBits.foreach { case (perm, bit) => if ((mode & bit) != 0) set.add(perm) }
        try Files.setPosixFilePermissions(pathToFile(p).toPath, set)
        catch { case e: NoSuchFileException =>
          throw new java.io.FileNotFoundException(e.getMessage) }
      }

    /** A path that is no symlink has its plain status (a missing path
      * throws `FileNotFoundException` there); links keep Hadoop's answer.
      */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** The `FileSystem` for `file:` paths: Hadoop's checksummed local FS. */
  class Local extends LocalFileSystem(new Raw)

  /** `RawLocalFs` over [[Raw]]; the overrides are `RawLocalFs`'s. */
  class RawFs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** The `AbstractFileSystem` for `file:` paths (`FileContext`). */
  class Fs(uri: URI, conf: Configuration) extends ChecksumFs(new RawFs(uri, conf))

  private val fileImpl = "fs.file.impl"
  private val abstractImpl = "fs.AbstractFileSystem.file.impl"

  /** Route the session's `file:` paths through [[Local]] and [[Fs]], unless
    * the user set `fs.file.impl`. Hadoop caches one `file:` `FileSystem`
    * per user, whatever the conf, and Spark has made it by the time a
    * session exists; the cache is switched off for `file:` on this conf so
    * that later lookups build [[Local]]. Idempotent.
    */
  def install(spark: SparkSession): Unit = install(spark.sparkContext.hadoopConfiguration)

  private[sources] def install(conf: Configuration): Unit =
    if (Option(conf.get(fileImpl)).forall(_.isEmpty)) {
      conf.set(fileImpl, classOf[Local].getName)
      conf.setBoolean(s"$fileImpl.disable.cache", true)
      if (Option(conf.get(abstractImpl))
          .forall(_ == classOf[org.apache.hadoop.fs.local.LocalFs].getName))
        conf.set(abstractImpl, classOf[Fs].getName)
    }
}
