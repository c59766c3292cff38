package graft.io

import java.net.URI
import java.nio.file.{FileSystems, Files}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSDataInputStream,
  FileStatus, FileSystem, FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` FileContext (AbstractFileSystem) that Spark's streaming
  * checkpoint files go through: offset/commit logs, file-source logs and
  * state-store delta/snapshot files. Built like Hadoop's
  * `org.apache.hadoop.fs.local.LocalFs` — a `ChecksumFs` over a raw local
  * file system, so `.crc` sidecars behave as before — except that the
  * raw file system does not fork a process where Hadoop's does without
  * its native library: `chmod` on every create and mkdir, and `readlink`
  * on every link-status probe (a rename probes its source and target).
  *
  * Unlike Hadoop's `LocalFs` it verifies the `.crc` sidecar on every
  * read: Spark's checkpoint file managers open with `open(Path)`, which
  * `ChecksumFs` inherits from `FilterFs` and which reads the raw file.
  *
  * Hadoop instantiates it reflectively with `(URI, Configuration)`; like
  * Hadoop's `LocalFs` it ignores the URI. `graft.Session.setup` routes
  * a session's `file:` FileContexts here, and its `file:` FileSystems
  * to [[LocalFileSystem]], the same raw file system behind Hadoop's
  * checksummed `FileSystem` API.
  */
class LocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new LocalFs.RawFs(conf)) {

  /** Through the checksummed `open(Path, bufferSize)`, as Hadoop's
    * `FileSystem.open(Path)` already goes.
    */
  override def open(f: Path): FSDataInputStream =
    open(f, getServerDefaults(f).getFileBufferSize)
}

/** The `file:` FileSystem that parquet part files, committer
  * directories, `_SUCCESS` markers, epoch-store partitions and reliable
  * checkpoints go through: Hadoop's checksummed `LocalFileSystem`, with
  * its `.crc` sidecars verified on `open`, over the raw file system of
  * [[LocalFs]], so creates and mkdirs start no `chmod` process.
  */
class LocalFileSystem
    extends org.apache.hadoop.fs.LocalFileSystem(new LocalFs.ForkFreeRawLocalFileSystem)

object LocalFileSystem {

  private val ImplKey = "fs.file.impl"

  /** Route `conf`'s `file:` FileSystems here unless `fs.file.impl` names
    * another class (an explicit choice, kept).
    *
    * `FileSystem.get` caches one `file:` instance per user whatever the
    * conf names, and a session built elsewhere has cached Hadoop's (or
    * whatever its service loader finds for `file:`) before set-up runs,
    * in its checkpoint-dir mkdirs, say. That instance is closed, which
    * drops it from the cache, and graft's is cached in its place.
    * Closing also runs its `deleteOnExit` deletions early; in the Spark
    * 4.1.2 jars only `HiveTempPath` registers any. (`FileSystem.CACHE`
    * is package-private, and a helper in Hadoop's package would not
    * reach it from another class loader.)
    */
  private[graft] def install(conf: Configuration): Unit = {
    if (conf.getTrimmed(ImplKey, "").isEmpty)
      conf.set(ImplKey, classOf[LocalFileSystem].getName)
    if (conf.get(ImplKey) == classOf[LocalFileSystem].getName) {
      val cached = FileSystem.get(FsConstants.LOCAL_FS_URI, conf)
      if (!cached.isInstanceOf[LocalFileSystem]) {
        cached.close()
        FileSystem.get(FsConstants.LOCAL_FS_URI, conf): Unit
      }
    }
  }
}

object LocalFs {

  val ImplKey = "fs.AbstractFileSystem.file.impl"
  private[graft] val HadoopDefault = "org.apache.hadoop.fs.local.LocalFs"

  /** Hadoop's `RawLocalFs`, over [[ForkFreeRawLocalFileSystem]]. */
  private[io] class RawFs(conf: Configuration)
      extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
        new ForkFreeRawLocalFileSystem, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    override def getServerDefaults: FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }

  private val unixModes =
    FileSystems.getDefault.supportedFileAttributeViews.contains("unix")
  private val StickyBit = 0x200      // 01000
  private val SetIdBits = 0xc00      // 06000
  private val DirType = 0x4000       // 040000
  private val TypeMask = 0xf000      // 0170000

  private[io] class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

    /** `chmod %04o` without the process: like GNU chmod's numeric mode,
      * a directory keeps its set-uid/set-gid bits and a file loses
      * them. A sticky bit, or a store without unix modes, takes Hadoop's
      * own path.
      */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if (!unixModes || (mode & StickyBit) != 0) super.setPermission(p, permission)
      else {
        val file = pathToFile(p).toPath
        val cur = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
        val keep = if ((cur & TypeMask) == DirType) cur & SetIdBits else 0
        Files.setAttribute(file, "unix:mode", Int.box((mode & 0x1ff) | keep))
      }
    }

    /** A path that is no symlink gets its plain status, as Hadoop returns
      * it once `readlink` finds no link (a missing path throws
      * `FileNotFoundException` from `getFileStatus`); real and dangling
      * symlinks take Hadoop's own path.
      */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }
}
