package graft.fs

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException}
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FSLinkResolver, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` filesystem: Hadoop's local filesystem with the
  * two calls that fork a process when `libhadoop` is absent (as in the
  * standard Spark distribution) made through java.nio instead.
  * `setPermission` forks `chmod` on every create and mkdir;
  * `getFileLinkStatus` forks `readlink`, twice per `FileContext` rename.
  * Here they are one `chmod(2)` and one `readlink(2)`, setting the bits
  * Hadoop's native path (`NativeIO.POSIX.chmod`) sets. Checksums stay:
  * [[NioLocalFileSystem]] and [[NioLocalFs]] are the `ChecksumFileSystem`
  * and `ChecksumFs` wrappers the stock `file:` scheme uses.
  * [[graft.Sessions.local]] registers both through [[LocalFs.confs]]. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    val view = Files.getFileAttributeView(pathToFile(p).toPath, classOf[PosixFileAttributeView])
    // java.nio cannot set the sticky bit
    if (view == null || (mode & 0x200) != 0) super.setPermission(p, permission)
    else {
      // PosixFilePermission runs OWNER_READ (0400) … OTHERS_EXECUTE (0001)
      val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      for ((b, i) <- PosixFilePermission.values.zipWithIndex if (mode & (0x100 >> i)) != 0) bits.add(b)
      view.setPermissions(bits)
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val fi = linkStatus(f)
    if (fi.isSymlink)
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** Hadoop 3.4.2's `deprecatedGetFileLinkStatusInternal`, with the link
    * read by `Files.readSymbolicLink`: "" (not a link, missing, or an
    * error) as `FileUtil.readLink` gives it. Like the stock code it reads
    * `f.toString`, so a qualified `file:/…` path never reads as a link. */
  private def linkStatus(f: Path): FileStatus = {
    val target =
      try Files.readSymbolicLink(new File(f.toString).toPath).toString
      catch { case _: IOException | _: InvalidPathException => "" }
    try {
      val fs = getFileStatus(f)
      if (target.isEmpty) fs
      else new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize,
        fs.getModificationTime, fs.getAccessTime, fs.getPermission, fs.getOwner,
        fs.getGroup, new Path(target), f)
    } catch {
      // a dangling link: File.exists is false for it
      case _: FileNotFoundException if target.nonEmpty =>
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", new Path(target), f)
    }
  }
}

/** `file:` for the `FileSystem` API, with `.crc` checksums. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `file:` for the `FileContext` API (Spark's checkpoint logs and state
  * store): stock `LocalFs` is this `ChecksumFs` over a delegate of the
  * raw filesystem, with the same overrides as stock `RawLocalFs`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

private[fs] class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

object LocalFs {
  /** The session configs that make [[NioLocalFileSystem]] and
    * [[NioLocalFs]] the `file:` implementations. A JVM caches its first
    * `file:` FileSystem whatever the conf, so they must be set before then. */
  val confs: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)
}
