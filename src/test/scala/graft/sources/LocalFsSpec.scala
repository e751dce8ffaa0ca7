package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import graft.model._
import graft.streaming.{StreamHarness, StreamingMigration}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.Options.CreateOpts
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.streaming.Trigger

/** [[LocalFs]] against Hadoop's own local filesystem: same bits on disk,
  * same link and missing-path answers, and it is what `file:` resolves to.
  */
class LocalFsSpec extends SparkTestBase {
  import spark.implicits._

  private def sessionConf = spark.sessionState.newHadoopConf()
  private val fileUri = URI.create("file:///")

  /** Hadoop's stock `file:` classes on a copy of `conf`. */
  private def stock(conf: Configuration): (FileSystem, FileContext) = {
    val c = new Configuration(conf)
    c.set("fs.AbstractFileSystem.file.impl", classOf[org.apache.hadoop.fs.local.LocalFs].getName)
    val fs = new LocalFileSystem()
    fs.initialize(fileUri, c)
    (fs, FileContext.getFileContext(fileUri, c))
  }

  /** Files and dirs made through both APIs under `root`, with a
    * `FileContext` rename (the link probe), as relative path -> `rwx` bits.
    */
  private def tree(root: String, fs: FileSystem, fc: FileContext): Map[String, String] = {
    fs.create(new Path(root, "fs-file")).close()
    fs.mkdirs(new Path(root, "fs-dir/sub"))
    fc.create(new Path(root, "fc-file"), java.util.EnumSet.of(CreateFlag.CREATE),
      CreateOpts.createParent()).close()
    fc.mkdir(new Path(root, "fc-dir/sub"), FsPermission.getDirDefault, true)
    fc.rename(new Path(root, "fc-file"), new Path(root, "fc-dir/fc-renamed"))
    val base = Paths.get(root)
    Files.walk(base).iterator().asScala.filter(_ != base).map(p =>
      base.relativize(p).toString ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))).toMap
  }

  Seq(None -> "umask 022", Some("077") -> "umask-mode 077").foreach { case (umask, label) =>
    test(s"files and dirs get Hadoop's own permission bits under $label") {
      val conf = new Configuration(sessionConf)
      umask.foreach(conf.set("fs.permissions.umask-mode", _))
      val dir = tempDir("localfs_bits")
      val ours = new Path(dir).getFileSystem(conf)
      assert(ours.isInstanceOf[LocalFs.Local])
      val got = tree(s"$dir/graft", ours, FileContext.getFileContext(fileUri, conf))
      val (fs, fc) = stock(conf)
      val want = tree(s"$dir/stock", fs, fc)
      assert(got === want)
      val file = if (umask.isDefined) "rw-------" else "rw-r--r--"
      val subdir = if (umask.isDefined) "rwx------" else "rwxr-xr-x"
      assert(got("fs-file") === file && got("fc-dir/fc-renamed") === file)
      assert(got("fs-dir/sub") === subdir && got("fc-dir/sub") === subdir)
      assert(got.contains(".fs-file.crc") && got.contains("fc-dir/.fc-renamed.crc"))
    }
  }

  test("a sticky bit is set through Hadoop's path") {
    val dir = new Path(tempDir("localfs_sticky"), "d")
    val fs = dir.getFileSystem(sessionConf)
    fs.mkdirs(dir)
    fs.setPermission(dir, new FsPermission(Integer.parseInt("1775", 8).toShort))
    val mode = Files.getAttribute(Paths.get(dir.toUri.getPath), "unix:mode").asInstanceOf[Int]
    assert((mode & Integer.parseInt("7777", 8)) === Integer.parseInt("1775", 8))
  }

  test("a symlink keeps its link status and qualified target") {
    val dir = tempDir("localfs_link")
    val target = Paths.get(dir, "target")
    Files.write(target, "x".getBytes)
    val link = Files.createSymbolicLink(Paths.get(dir, "link"), target)
    val fs = new Path(dir).getFileSystem(sessionConf)
    val st = fs.getFileLinkStatus(new Path(link.toString))
    assert(st.isSymlink)
    assert(st.getSymlink === new Path(s"file:$target"))
    val fcSt = FileContext.getFileContext(fileUri, sessionConf).getFileLinkStatus(new Path(link.toString))
    assert(fcSt.isSymlink && fcSt.getSymlink.toUri.getPath === target.toString)
    assert(!fs.getFileLinkStatus(new Path(target.toString)).isSymlink)
  }

  test("a missing path throws FileNotFoundException") {
    val missing = new Path(tempDir("localfs_missing"), "nothing")
    val fs = missing.getFileSystem(sessionConf)
    intercept[FileNotFoundException](fs.getFileLinkStatus(missing))
    intercept[FileNotFoundException](
      FileContext.getFileContext(fileUri, sessionConf).getFileLinkStatus(missing))
    intercept[FileNotFoundException](fs.setPermission(missing, FsPermission.getFileDefault))
  }

  test("file: resolves to graft's classes before and after a stream starts") {
    def check(): Unit = {
      val conf = sessionConf
      assert(new Path("file:/tmp").getFileSystem(conf).isInstanceOf[LocalFs.Local])
      assert(FileSystem.getLocal(conf).isInstanceOf[LocalFs.Local])
      assert(AbstractFileSystem.get(fileUri, conf).isInstanceOf[LocalFs.Fs])
    }
    check()
    val dir = tempDir("localfs_stream")
    val srcRef = TableRef(path = s"$dir/src")
    (1 to 4).map(i => (i.toLong, s"p$i")).toDF("id", "payload")
      .write.parquet(Tables.tablePath(srcRef, "lf_t"))
    val q = StreamingMigration.start(spark,
      MigrationConfig(srcRef, TableRef(path = s"$dir/tgt"), Nil),
      TableMigrationDef("lf_t", pkColumns = Seq("id"), writeMode = InsertIfNotExists,
        simulateOnly = false),
      checkpointDir = s"$dir/cp", trigger = Trigger.AvailableNow())
    StreamHarness.drain("localfs_stream", q)
    check()
  }

  test("install sets both keys once and leaves a user's fs.file.impl alone") {
    val conf = new Configuration()
    LocalFs.install(conf)
    assert(conf.get("fs.file.impl") === classOf[LocalFs.Local].getName)
    assert(conf.get("fs.AbstractFileSystem.file.impl") === classOf[LocalFs.Fs].getName)
    assert(conf.getBoolean("fs.file.impl.disable.cache", false))
    LocalFs.install(conf)
    assert(conf.get("fs.file.impl") === classOf[LocalFs.Local].getName)
    val user = new Configuration()
    user.set("fs.file.impl", classOf[LocalFileSystem].getName)
    LocalFs.install(user)
    assert(user.get("fs.file.impl") === classOf[LocalFileSystem].getName)
    assert(user.get("fs.AbstractFileSystem.file.impl") ===
      classOf[org.apache.hadoop.fs.local.LocalFs].getName)
    assert(!user.getBoolean("fs.file.impl.disable.cache", false))
  }
}
