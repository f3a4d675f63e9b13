package graft.sink

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException}
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FSLinkResolver, FsConstants, FsServerDefaults, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without child processes. Without
  * `libhadoop` (not shipped in Spark's jars) the stock class runs
  * `chmod` in a new process for every `setPermission` — once per dir
  * level `mkdirs` creates and once per file `create` opens: part file,
  * `.crc`, `_SUCCESS`, checkpoint entry — and `readlink` for every
  * `getFileLinkStatus`, which each `FileContext` rename makes. This
  * class does both through the JDK; every answer and every mode bit is
  * the stock class's. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** The nine rwx bits through NIO. Sticky/setuid/setgid bits — in the
    * requested mode, or on the path now (`chmod 0755` keeps a dir's
    * setgid; chmod(2) through NIO would clear it) — and filesystems
    * without POSIX attributes go to the stock setter. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    val mode = permission.toShort.toInt
    val current =
      try Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
      catch { case _: UnsupportedOperationException => Special }
    if (((mode | current) & Special) != 0) super.setPermission(p, permission)
    else {
      val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // values() runs OWNER_READ … OTHERS_EXECUTE: bits 0400 … 0001.
      PosixFilePermission.values().zipWithIndex.foreach { case (b, i) =>
        if ((mode & (0x100 >> i)) != 0) bits.add(b)
      }
      Files.setPosixFilePermissions(file, bits)
    }
  }

  /** Mode 07000: setuid, setgid, sticky. */
  private val Special = 0xe00

  override def getFileLinkStatus(f: Path): FileStatus = {
    val fi = linkStatus(f)
    if (fi.isSymlink)
      fi.setSymlink(
        FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** The stock (non-`Stat`) link status with NIO in place of `readlink`:
    * the link is read at `new File(f.toString)`, so a scheme-qualified
    * path never reads as a link, as with the stock class; a link reports
    * its target's length and times and its own owner and mode. */
  private def linkStatus(f: Path): FileStatus = {
    val target =
      try {
        val link = new File(f.toString).toPath
        if (Files.isSymbolicLink(link)) Files.readSymbolicLink(link).toString.trim
        else ""
      } catch { case _: IOException | _: InvalidPathException => "" }
    try {
      val fs = getFileStatus(f)
      if (target.isEmpty) fs
      else new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize,
        fs.getModificationTime, fs.getAccessTime, fs.getPermission,
        fs.getOwner, fs.getGroup, new Path(target), f)
    } catch { case e: FileNotFoundException =>
      if (target.isEmpty) throw e
      new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
        new Path(target), f)
    }
  }
}

/** `fs.file.impl`: the checksummed local filesystem (`.crc` files as
  * before) over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `AbstractFileSystem` twin of the raw class, for `FileContext` users
  * (streaming checkpoints), which bypass `fs.file.impl`: Hadoop's
  * `RawLocalFs` with [[NioRawLocalFileSystem]] under it. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  @deprecated("as in AbstractFileSystem", "")
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` (checksummed)
  * over [[NioRawLocalFs]]. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))

object NioLocalFs {
  /** The session confs that bind `file:` to these classes, for both the
    * `FileSystem` and the `FileContext` API. */
  val SparkConfs: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)
}
