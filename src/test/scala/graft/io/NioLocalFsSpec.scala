package graft.io

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, LocalFileSystem, Options, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The java.nio local file system against Hadoop's own classes as the
  * reference: the same link status, the same permission bits, the same
  * files and `.crc` sidecars on both the `FileSystem` and the
  * `FileContext` path; and a session resolves `file:` to it.
  */
class NioLocalFsSpec extends AnyFunSuite {

  private val local = URI.create("file:///")

  private def init[F <: FileSystem](fs: F): F = { fs.initialize(local, new Configuration()); fs }

  private lazy val ref = init(new RawLocalFileSystem)
  private lazy val nio = init(new NioRawLocalFileSystem)

  private def octal(s: String): Short = Integer.parseInt(s, 8).toShort

  /** Permission bits with the sticky bit, which PosixFilePermissions drops. */
  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode", java.nio.file.LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int] & 0xfff

  /** Each file under `d` (relative name, bytes, mode), sorted. */
  private def layout(d: JPath): Seq[(String, Seq[Byte], Int)] =
    Files.walk(d).iterator().asScala.filter(Files.isRegularFile(_)).map(f =>
      (d.relativize(f).toString, Files.readAllBytes(f).toSeq, mode(f))).toSeq.sortBy(_._1)

  /** (isSymlink, link target, isDirectory, length), or the exception class. */
  private def linkStatus(fs: FileSystem, p: Path): Either[String, (Boolean, Option[String], Boolean, Long)] =
    try {
      val s = fs.getFileLinkStatus(p)
      Right((s.isSymlink, if (s.isSymlink) Some(s.getSymlink.toString) else None, s.isDirectory, s.getLen))
    } catch { case e: java.io.FileNotFoundException => Left(e.getClass.getName) }

  test("getFileLinkStatus matches Hadoop's on a file, a directory, two links and a missing path") {
    val d = Files.createTempDirectory("niofs_link")
    val file = Files.writeString(d.resolve("file"), "twelve bytes")
    val cases = Seq(
      file,
      Files.createDirectory(d.resolve("dir")),
      Files.createSymbolicLink(d.resolve("link"), file),
      Files.createSymbolicLink(d.resolve("dangling"), d.resolve("gone")),
      d.resolve("missing"))
    // the plain path and the qualified one, as a FileContext passes it
    for (p <- cases; hp <- Seq(new Path(p.toString), new Path(p.toUri)))
      assert(linkStatus(nio, hp) === linkStatus(ref, hp), hp)
    val plain = cases.map(p => linkStatus(ref, new Path(p.toString)))
    assert(plain(0) === Right((false, None, false, 12L)))
    assert(plain(1).exists(s => s._3 && !s._1))
    assert(plain(2) === Right((true, Some(new Path(file.toUri).toString), false, 12L)))
    assert(plain(3).exists(s => s._1 && s._2.exists(_.endsWith("/gone"))))
    assert(plain(4) === Left(classOf[java.io.FileNotFoundException].getName))
  }

  test("permission bits after create, mkdirs and setPermission match Hadoop's") {
    def run(fs: FileSystem): Seq[Int] = {
      val d = Files.createTempDirectory("niofs_perm")
      def p(n: String) = new Path(d.resolve(n).toString)
      fs.create(p("created"), new FsPermission(octal("640")), false, 4096, 1.toShort, 1L << 20, null).close()
      fs.create(p("default")).close()
      fs.mkdirs(p("made"), new FsPermission(octal("750")))
      fs.mkdirs(p("made/nested/deep"))
      fs.create(p("private")).close()
      fs.setPermission(p("private"), new FsPermission(octal("700")))
      fs.mkdirs(p("private_dir"))
      fs.setPermission(p("private_dir"), new FsPermission(octal("700")))
      fs.mkdirs(p("sticky"))
      fs.setPermission(p("sticky"), new FsPermission(octal("1777")))
      Seq("created", "default", "made", "made/nested/deep", "private", "private_dir", "sticky")
        .map(n => mode(d.resolve(n)))
    }
    val expected = run(ref)
    assert(run(nio) === expected)
    assert(expected.takeRight(3) === Seq(octal("700"), octal("700"), octal("1777")).map(_.toInt))
  }

  test("FileSystem and FileContext writes leave Hadoop's files, .crc sidecars and modes") {
    def viaFileSystem(fs: FileSystem): (Seq[Boolean], Seq[(String, Seq[Byte], Int)]) = {
      val d = Files.createTempDirectory("niofs_fs")
      def p(n: String) = new Path(d.resolve(n).toString)
      for ((n, len) <- Seq("part/data.bin" -> 1500, "part/other.bin" -> 7)) {
        val out = fs.create(p(n))
        out.write(Array.tabulate[Byte](len)(_.toByte))
        out.close()
      }
      val renamed = Seq(
        fs.rename(p("part/other.bin"), p("part/data.bin")), // over an existing file
        fs.rename(p("part"), p("moved")))
      (renamed, layout(d))
    }
    // the classes a conf without the keys resolves `file:` to
    def withKeys(keys: (String, Class[_])*): Configuration = {
      val c = new Configuration()
      keys.foreach { case (k, cls) => c.set(k, cls.getName) }
      c
    }
    val hadoopFs = FileSystem.newInstance(local, withKeys())
    assert(hadoopFs.isInstanceOf[LocalFileSystem] && !hadoopFs.isInstanceOf[NioLocalFileSystem])
    val expected = viaFileSystem(hadoopFs)
    assert(expected._2.map(_._1) ===
      Seq("moved/.data.bin.crc", "moved/.other.bin.crc", "moved/data.bin", "moved/other.bin"))
    val nioFs = FileSystem.newInstance(local, withKeys("fs.file.impl" -> classOf[NioLocalFileSystem]))
    assert(nioFs.isInstanceOf[NioLocalFileSystem])
    assert(viaFileSystem(nioFs) === expected)

    // a checkpoint log's write: temp file, then rename over the target
    def viaFileContext(fc: FileContext): Seq[(String, Seq[Byte], Int)] = {
      val d = Files.createTempDirectory("niofs_fc")
      for (v <- Seq("v1", "v2")) {
        val tmp = new Path(d.resolve(s"offsets/.0.$v.tmp").toString)
        val out = fc.create(tmp, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
          Options.CreateOpts.createParent())
        out.write(s"offsets $v".getBytes(UTF_8))
        out.close()
        fc.rename(tmp, new Path(d.resolve("offsets/0").toString), Options.Rename.OVERWRITE)
      }
      layout(d)
    }
    val hadoopFc = FileContext.getFileContext(local, withKeys())
    assert(hadoopFc.getDefaultFileSystem.getClass === classOf[org.apache.hadoop.fs.local.LocalFs])
    val reference = viaFileContext(hadoopFc)
    assert(reference.map(_._1) === Seq("offsets/.0.crc", "offsets/0"))
    val nioFc = FileContext.getFileContext(local,
      withKeys("fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs]))
    assert(nioFc.getDefaultFileSystem.isInstanceOf[NioLocalFs])
    assert(viaFileContext(nioFc) === reference)
  }

  test("a session resolves file: to these classes through FileSystem.get and FileContext") {
    val spark = SparkSession
      .builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val conf = spark.sparkContext.hadoopConfiguration
    assert(graft.Sessions.LocalFsConf.forall { case (k, v) => spark.sparkContext.getConf.get(k, "") == v })
    assert(FileSystem.get(local, conf).isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(conf).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(local, conf).getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }
}
