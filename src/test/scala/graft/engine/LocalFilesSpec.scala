package graft.engine

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException,
  FileContext, FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.Options.{CreateOpts, Rename}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager

/** The session's `file:` file system ([[ForkFreeLocalFileSystem]],
  * [[ForkFreeLocalFs]]) against stock Hadoop's local file system: the
  * same permissions, checksum files, rename and link semantics, through
  * both Hadoop APIs.
  */
class LocalFilesSpec extends SparkSpec {

  private val Root = URI.create("file:///")

  private def conf(umask: Option[String]): Configuration = {
    val c = new Configuration()
    umask.foreach(c.set("fs.permissions.umask-mode", _))
    c
  }

  /** Stock's or the fork-free `FileSystem` (uncached) under `c`. */
  private def fileSystem(stock: Boolean, c: Configuration): FileSystem = {
    val fs = if (stock) new LocalFileSystem() else new ForkFreeLocalFileSystem()
    fs.initialize(Root, c)
    fs
  }

  /** Stock's or the fork-free `FileContext` under `c`. */
  private def fileContext(stock: Boolean, c: Configuration): FileContext = {
    val cc = new Configuration(c)
    cc.set("fs.AbstractFileSystem.file.impl",
      if (stock) "org.apache.hadoop.fs.local.LocalFs"
      else classOf[ForkFreeLocalFs].getName)
    FileContext.getFileContext(Root, cc)
  }

  private def tmp(prefix: String): JPath = Files.createTempDirectory(prefix)

  private def hp(p: JPath): Path = new Path(p.toUri)

  private def octal(mode: String) =
    new FsPermission(Integer.parseInt(mode, 8).toShort)

  private def write(fs: FileSystem, p: Path): Unit = {
    val out = fs.create(p)
    try out.write(Array[Byte](1, 2, 3)) finally out.close()
  }

  private def write(fc: FileContext, p: Path, flags: CreateFlag*): Unit = {
    val out = fc.create(p, EnumSet.copyOf(flags.asJava),
      CreateOpts.createParent())
    try out.write(Array[Byte](1, 2, 3)) finally out.close()
  }

  /** Every entry under `dir`, relative, with its POSIX permissions. */
  private def modes(dir: JPath): Map[String, String] = {
    val s = Files.walk(dir)
    try s.iterator.asScala.filter(_ != dir).map(p =>
      dir.relativize(p).toString ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))).toMap
    finally s.close()
  }

  private def names(dir: JPath): Set[String] = {
    val s = Files.list(dir)
    try s.iterator.asScala.map(_.getFileName.toString).toSet
    finally s.close()
  }

  /** What both APIs create under `dir`: files with and without parents
    * and explicit modes, directories, and explicit permission changes.
    */
  private def populate(stock: Boolean, c: Configuration, dir: JPath): Unit = {
    val fs = fileSystem(stock, c)
    write(fs, hp(dir.resolve("fs/a/b/file")))
    fs.create(hp(dir.resolve("fs/mode640")), octal("640"), true, 4096,
      1.toShort, 1L << 20, null).close()
    fs.mkdirs(hp(dir.resolve("fs/d1/d2")))
    fs.mkdirs(hp(dir.resolve("fs/d700")), octal("700"))
    fs.setPermission(hp(dir.resolve("fs/a/b/file")), octal("604"))
    val fc = fileContext(stock, c)
    write(fc, hp(dir.resolve("fc/c/file")), CreateFlag.CREATE)
    fc.mkdir(hp(dir.resolve("fc/e1/e2")), FsPermission.getDirDefault, true)
    fc.mkdir(hp(dir.resolve("fc/e750")), octal("750"), false)
    fc.setPermission(hp(dir.resolve("fc/c/file")), octal("460"))
  }

  test("files and directories get stock's permissions through both APIs") {
    Seq(None, Some("077"), Some("027")).foreach { umask =>
      val (stock, ours) = (tmp("graft-fs-stock"), tmp("graft-fs-ours"))
      populate(stock = true, conf(umask), stock)
      populate(stock = false, conf(umask), ours)
      val expected = modes(stock)
      assert(expected.keySet.exists(_.endsWith(".file.crc")), expected)
      assert(modes(ours) == expected, s"umask $umask")
    }
  }

  test("a sticky bit still applies, through stock's chmod") {
    val dir = tmp("graft-fs-sticky")
    val fs = fileSystem(stock = false, conf(None))
    val d = hp(dir.resolve("shared"))
    fs.mkdirs(d)
    fs.setPermission(d, octal("1777"))
    assert(fs.getFileStatus(d).getPermission == octal("1777"))
  }

  test(".crc siblings are created, renamed and deleted with their files") {
    val dir = tmp("graft-fs-crc")
    val fs = fileSystem(stock = false, conf(None))
    write(fs, hp(dir.resolve("a")))
    assert(names(dir) == Set("a", ".a.crc"))
    assert(fs.rename(hp(dir.resolve("a")), hp(dir.resolve("b"))))
    assert(names(dir) == Set("b", ".b.crc"))
    assert(fs.delete(hp(dir.resolve("b")), false))
    assert(names(dir).isEmpty)

    val fc = fileContext(stock = false, conf(None))
    write(fc, hp(dir.resolve("c")), CreateFlag.CREATE)
    assert(names(dir) == Set("c", ".c.crc"))
    fc.rename(hp(dir.resolve("c")), hp(dir.resolve("d")))
    assert(names(dir) == Set("d", ".d.crc"))
    assert(fc.delete(hp(dir.resolve("d")), false))
    assert(names(dir).isEmpty)
  }

  test("a FileContext rename onto an existing file needs OVERWRITE") {
    Seq(true, false).foreach { stock =>
      val dir = tmp("graft-fs-rename")
      val fc = fileContext(stock, conf(None))
      val (src, dst) = (hp(dir.resolve("src")), hp(dir.resolve("dst")))
      write(fc, src, CreateFlag.CREATE)
      write(fc, dst, CreateFlag.CREATE)
      intercept[FileAlreadyExistsException](fc.rename(src, dst, Rename.NONE))
      assert(names(dir) == Set("src", ".src.crc", "dst", ".dst.crc"))
      fc.rename(src, dst, Rename.OVERWRITE)
      assert(names(dir) == Set("dst", ".dst.crc"), s"stock = $stock")
    }
  }

  /** What a link-status answer says, or the error it throws. */
  private def linkStatus(status: => FileStatus): Either[String, String] =
    try {
      val s = status
      Right(Seq(s.getPath, s.isFile, s.isDirectory, s.isSymlink, s.getLen,
        if (s.isSymlink) s.getSymlink else "").mkString("|"))
    } catch { case e: FileNotFoundException => Left(e.getClass.getName) }

  test("link status matches stock for files, links and missing paths") {
    val dir = tmp("graft-fs-links")
    Files.write(dir.resolve("target"), Array[Byte](1, 2, 3, 4))
    Files.createDirectory(dir.resolve("subdir"))
    Files.createSymbolicLink(dir.resolve("link"), dir.resolve("target"))
    Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("none"))
    val paths = Seq("target", "subdir", "link", "dangling", "missing")
      .map(dir.resolve)
      .flatMap(p => Seq(hp(p), new Path(p.toString))) // qualified and plain
    val c = conf(None)
    val fs = Seq(true, false).map(fileSystem(_, c))
    val fc = Seq(true, false).map(fileContext(_, c))
    paths.foreach { p =>
      val Seq(stockFs, oursFs) = fs.map(f => linkStatus(f.getFileLinkStatus(p)))
      assert(oursFs == stockFs, p)
      val Seq(stockFc, oursFc) = fc.map(f => linkStatus(f.getFileLinkStatus(p)))
      assert(oursFc == stockFc, p)
    }
    val plainLink = new Path(dir.resolve("link").toString)
    assert(fs(1).getFileLinkStatus(plainLink).isSymlink)
    assert(fc(1).getFileLinkStatus(plainLink).isSymlink)
    assert(linkStatus(fs(1).getFileLinkStatus(hp(dir.resolve("missing"))))
      .isLeft)
  }

  test("the session and a new session resolve file: to the fork-free classes") {
    Seq(spark, spark.newSession()).foreach { s =>
      val c = s.sessionState.newHadoopConf()
      assert(new Path("file:///").getFileSystem(c).getClass ==
        classOf[ForkFreeLocalFileSystem])
      assert(FileContext.getFileContext(Root, c).getDefaultFileSystem
        .getClass == classOf[ForkFreeLocalFs])
    }
  }

  test("200 checkpoint-log writes take well under 2 s") {
    val dir = tmp("graft-fs-log")
    val logs = CheckpointFileManager.create(hp(dir),
      spark.sessionState.newHadoopConf())
    def run(from: Int): Long = {
      val t0 = System.nanoTime()
      (from until from + 200).foreach { i =>
        val out = logs.createAtomic(hp(dir.resolve(i.toString)),
          overwriteIfPossible = false)
        out.write(s"v1\n{\"batchId\":$i}".getBytes("UTF-8"))
        out.close()
      }
      (System.nanoTime() - t0) / 1000000
    }
    run(0) // warm
    val ms = run(200)
    assert(names(dir).count(_.forall(_.isDigit)) == 400)
    assert(ms < 2000, s"200 createAtomic writes took $ms ms")
  }
}
