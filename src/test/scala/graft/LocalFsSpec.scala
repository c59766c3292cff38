package graft

import java.nio.file.{Files, Path => NioPath}
import java.util.EnumSet
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem,
  FsConstants, Options, Path}
import org.apache.hadoop.fs.Options.CreateOpts
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import graft.io.{LocalFileSystem, LocalFs}

/** `graft.io.LocalFs` against Hadoop's own `file:` FileContext, and
  * `graft.io.LocalFileSystem` against Hadoop's own `file:` FileSystem:
  * every call the checkpoint file managers, the parquet writers and the
  * committers make gives the same observable result, and those calls
  * start no process.
  */
class LocalFsSpec extends AnyFunSuite {

  private def context(impl: Option[String]): FileContext = {
    val conf = new Configuration()
    impl.foreach(conf.set(LocalFs.ImplKey, _))
    FileContext.getLocalFSFileContext(conf)
  }
  private def hadoop = context(None)
  private def forkFree = context(Some(classOf[LocalFs].getName))

  /** An uncached instance, so the JVM's cached `file:` FileSystem is
    * left alone.
    */
  private def fileSystem(fs: FileSystem): FileSystem = {
    fs.initialize(FsConstants.LOCAL_FS_URI, new Configuration())
    fs
  }
  private def hadoopFs = fileSystem(new org.apache.hadoop.fs.LocalFileSystem)
  private def forkFreeFs = fileSystem(new LocalFileSystem)

  private def perm(octal: String) =
    new FsPermission(Integer.parseInt(octal, 8).toShort)

  private def mode(p: NioPath): String =
    Integer.toOctalString(
      Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)

  private def setMode(p: NioPath, octal: String): Unit =
    Files.setAttribute(p, "unix:mode", Int.box(Integer.parseInt(octal, 8)))

  private def write(fc: FileContext, p: Path, bytes: Array[Byte],
      perms: FsPermission = perm("644")): Unit = {
    val out = fc.create(p, EnumSet.of(CreateFlag.CREATE),
      CreateOpts.perms(perms))
    try out.write(bytes) finally out.close()
  }

  private def read(fc: FileContext, p: Path,
      bufferSize: Option[Int] = None): String = {
    val in = bufferSize.fold(fc.open(p))(fc.open(p, _))
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** The call's result, or the class of what it threw. */
  private def outcome(body: => Any): String =
    try String.valueOf(body) catch {
      case e: Exception => e.getClass.getSimpleName
    }

  /** A link-status result with paths relative to `dir`, by a plain and
    * by a `file:`-qualified path.
    */
  private def linkStatus(status: Path => FileStatus, dir: NioPath,
      name: String): Seq[String] =
    Seq(new Path(dir.resolve(name).toString),
        new Path(dir.resolve(name).toUri)).map { p =>
      outcome {
        val s = status(p)
        val target = if (s.isSymlink) s.getSymlink.toUri.getPath
          .replace(dir.toString, "<d>") else "-"
        s"file=${s.isFile} dir=${s.isDirectory} link=${s.isSymlink} " +
          s"len=${s.getLen} target=$target"
      }
    }

  /** Create, mkdir, setPermission, rename, link status and checksum
    * verification, none of them on a symlink or with a sticky bit.
    */
  private def scenario(fc: FileContext, dir: NioPath): Seq[String] = {
    def p(name: String) = new Path(dir.resolve(name).toString)
    def f(name: String) = dir.resolve(name)
    val b = Seq.newBuilder[String]
    // create with permission and umask, and its .crc sidecar
    fc.setUMask(perm("027"))
    write(fc, p("a"), Array.tabulate[Byte](2000)(i => (i % 97).toByte),
      perm("764"))
    b += s"a ${mode(f("a"))} crc ${Files.exists(f(".a.crc"))} ${mode(f(".a.crc"))}"
    fc.setUMask(perm("022"))
    // a directory keeps its set-gid bit, a file loses it
    fc.mkdir(p("sg"), perm("775"), false)
    setMode(f("sg"), "2775")
    fc.mkdir(p("sg/child"), perm("755"), false)
    write(fc, p("sg/file"), Array[Byte](1))
    fc.setPermission(p("sg"), perm("750"))
    write(fc, p("g"), Array[Byte](1))
    setMode(f("g"), "2755")
    fc.setPermission(p("g"), perm("640"))
    b += s"sg ${mode(f("sg"))} child ${mode(f("sg/child"))} " +
      s"file ${mode(f("sg/file"))} g ${mode(f("g"))}"
    // rename onto an existing target, without and with OVERWRITE
    write(fc, p("src"), "source".getBytes("UTF-8"))
    write(fc, p("dst"), "target".getBytes("UTF-8"))
    b += outcome(fc.rename(p("src"), p("dst")))
    b += s"${read(fc, p("dst"))} ${Files.exists(f("src"))}"
    b += outcome(fc.rename(p("src"), p("dst"), Options.Rename.OVERWRITE))
    b += s"${read(fc, p("dst"))} ${Files.exists(f("src"))} " +
      s"${Files.exists(f(".src.crc"))} ${Files.exists(f(".dst.crc"))}"
    b += outcome(fc.rename(p("missing"), p("x")))
    b += outcome(fc.rename(p("missing"), p("x"), Options.Rename.OVERWRITE))
    b ++= Seq("dst", "sg", "none").flatMap(linkStatus(fc.getFileLinkStatus, dir, _))
    // a flipped byte fails a read opened with a buffer size
    val raf = new java.io.RandomAccessFile(f("a").toFile, "rw")
    try { raf.seek(700); raf.write(raf.read() ^ 0xff) } finally raf.close()
    b += outcome(read(fc, p("a"), Some(4096)).length)
    b.result()
  }

  /** The calls that take Hadoop's own path: symlinks and a sticky bit. */
  private def forking(fc: FileContext, dir: NioPath): Seq[String] = {
    Files.createSymbolicLink(dir.resolve("ln"), dir.resolve("dst"))
    Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    fc.setPermission(new Path(dir.resolve("sg").toString), perm("1777"))
    Seq("ln", "dangling").flatMap(linkStatus(fc.getFileLinkStatus, dir, _)) :+
      mode(dir.resolve("sg"))
  }

  private def write(fs: FileSystem, p: Path, bytes: Array[Byte],
      perms: Option[FsPermission]): Unit = {
    val out = perms.fold(fs.create(p, false))(
      fs.create(p, _, false, 4096, 1.toShort, 1L << 20, null))
    try out.write(bytes) finally out.close()
  }

  /** The FileSystem calls of a parquet write and its committer —
    * create (with and without a permission), mkdirs, setPermission,
    * rename, delete, link status — and checksum verification on
    * `open(Path)`, none of them on a symlink or with a sticky bit.
    */
  private def scenario(fs: FileSystem, dir: NioPath): Seq[String] = {
    def p(name: String) = new Path(dir.resolve(name).toString)
    def f(name: String) = dir.resolve(name)
    val b = Seq.newBuilder[String]
    // create with a permission, and with the umasked default, and their
    // .crc sidecars
    fs.getConf.set("fs.permissions.umask-mode", "027")
    write(fs, p("a"), Array.tabulate[Byte](2000)(i => (i % 97).toByte),
      Some(perm("764")))
    write(fs, p("u"), Array[Byte](1), None)
    b += s"a ${mode(f("a"))} crc ${Files.exists(f(".a.crc"))} ${mode(f(".a.crc"))} " +
      s"u ${mode(f("u"))} ${mode(f(".u.crc"))}"
    b += outcome(write(fs, p("a"), Array[Byte](1), None))
    fs.getConf.set("fs.permissions.umask-mode", "022")
    // mkdirs, with and without a permission; a directory keeps its
    // set-gid bit, a file loses it
    b += outcome(fs.mkdirs(p("sg"), perm("775")))
    setMode(f("sg"), "2775")
    b += outcome(fs.mkdirs(p("sg/child/deep"), perm("755")))
    b += outcome(fs.mkdirs(p("plain/deep")))
    write(fs, p("sg/file"), Array[Byte](1), None)
    fs.setPermission(p("sg"), perm("750"))
    write(fs, p("g"), Array[Byte](1), None)
    setMode(f("g"), "2755")
    fs.setPermission(p("g"), perm("640"))
    b += s"sg ${mode(f("sg"))} child ${mode(f("sg/child"))} " +
      s"deep ${mode(f("sg/child/deep"))} plain ${mode(f("plain/deep"))} " +
      s"file ${mode(f("sg/file"))} g ${mode(f("g"))}"
    // rename onto a new name, onto an existing file, into a directory,
    // and from a missing source
    write(fs, p("src"), "source".getBytes("UTF-8"), None)
    write(fs, p("dst"), "target".getBytes("UTF-8"), None)
    b += outcome(fs.rename(p("src"), p("moved")))
    b += s"${Files.exists(f(".src.crc"))} ${Files.exists(f(".moved.crc"))}"
    b += outcome(fs.rename(p("moved"), p("dst")))
    b += outcome(fs.rename(p("dst"), p("plain")))
    b += Seq("dst", "moved", "plain/dst", "plain/.dst.crc")
      .map(n => Files.exists(f(n))).mkString(" ")
    b += outcome(fs.rename(p("missing"), p("x")))
    b += outcome(fs.delete(p("sg"), true)) + " " + Files.exists(f("sg"))
    b ++= Seq("u", "plain", "none").flatMap(linkStatus(fs.getFileLinkStatus, dir, _))
    // a flipped byte fails a read opened without a buffer size
    val raf = new java.io.RandomAccessFile(f("a").toFile, "rw")
    try { raf.seek(700); raf.write(raf.read() ^ 0xff) } finally raf.close()
    b += outcome {
      val in = fs.open(p("a"))
      try in.readAllBytes().length finally in.close()
    }
    b.result()
  }

  /** The FileSystem calls that take Hadoop's own path: symlinks and a
    * sticky bit.
    */
  private def forking(fs: FileSystem, dir: NioPath): Seq[String] = {
    Files.createSymbolicLink(dir.resolve("ln"), dir.resolve("u"))
    Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    fs.setPermission(new Path(dir.resolve("plain").toString), perm("1777"))
    Seq("ln", "dangling").flatMap(linkStatus(fs.getFileLinkStatus, dir, _)) :+
      mode(dir.resolve("plain"))
  }

  test("LocalFs gives Hadoop's LocalFs results through FileContext") {
    val Seq((expected, hadoopOpen), (actual, graftOpen)) =
      Seq(hadoop, forkFree).map { fc =>
        val dir = Files.createTempDirectory("localfs")
        (scenario(fc, dir) ++ forking(fc, dir),
          outcome(read(fc, new Path(dir.resolve("a").toString)).length))
      }
    assert(expected.contains("FileAlreadyExistsException"))
    assert(expected.contains("FileNotFoundException"))
    assert(expected.contains("ChecksumException"))
    assert(expected.last == "3777")
    assert(actual == expected)
    // the one intended departure: the flipped byte also fails a read
    // opened without a buffer size, as Spark's checkpoint file managers
    // open, where Hadoop's FilterFs.open(Path) reads the raw file
    assert(hadoopOpen == "2000")
    assert(graftOpen == "ChecksumException")
  }

  test("LocalFs starts no process for create, mkdir, chmod, rename or link status") {
    val h = Files.createTempDirectory("hadoopfs")
    val g = Files.createTempDirectory("graftfs")
    val viaHadoop = ProcessStarts.onThisThread(
      ProcessStarts.during(scenario(hadoop, h)))
    // the probe sees Hadoop's forks: chmod per create/mkdir, readlink
    // per link-status probe
    assert(viaHadoop.nonEmpty)
    val viaGraft = ProcessStarts.onThisThread(
      ProcessStarts.during(scenario(forkFree, g)))
    assert(viaGraft.isEmpty, viaGraft.map(_.getStackTrace).mkString("\n"))
  }

  test("LocalFileSystem gives Hadoop's LocalFileSystem results through FileSystem") {
    val Seq(expected, actual) = Seq(hadoopFs, forkFreeFs).map { fs =>
      val dir = Files.createTempDirectory("localfilesystem")
      try scenario(fs, dir) ++ forking(fs, dir) finally fs.close()
    }
    assert(expected.contains("FileAlreadyExistsException"))
    assert(expected.contains("FileNotFoundException"))
    assert(expected.contains("ChecksumException"))
    assert(expected.last == "1777")
    assert(actual == expected)
  }

  test("LocalFileSystem starts no process for create, mkdirs, chmod, rename or link status") {
    val h = Files.createTempDirectory("hadoopfilesystem")
    val g = Files.createTempDirectory("graftfilesystem")
    val viaHadoop = ProcessStarts.onThisThread(
      ProcessStarts.during(scenario(hadoopFs, h)))
    assert(viaHadoop.nonEmpty)
    val viaGraft = ProcessStarts.onThisThread(
      ProcessStarts.during(scenario(forkFreeFs, g)))
    assert(viaGraft.isEmpty, viaGraft.map(_.getStackTrace).mkString("\n"))
  }
}
