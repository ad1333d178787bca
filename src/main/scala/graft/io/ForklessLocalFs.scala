package graft.io

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission, PosixFilePermissions}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus,
  FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** `RawLocalFileSystem` that sets permissions and reads symlinks through
  * `java.nio` instead of a child process. Without libhadoop the stock
  * class runs `chmod` for every file or directory it creates with a mode
  * and `readlink` for every `getFileLinkStatus`, which every `FileContext`
  * rename calls: those forks were most of a small state-store commit's
  * time. Everything else is the stock class. */
class ForklessLocalFileSystem extends RawLocalFileSystem {

  /** Same mode bits as the stock `chmod`. Modes beyond `0777` (the sticky
    * bit) and file systems without a POSIX view keep the stock path. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    val view =
      if ((mode & ~0x1ff) != 0) null
      else Files.getFileAttributeView(pathToFile(p).toPath, classOf[PosixFileAttributeView])
    if (view == null) super.setPermission(p, permission)
    else view.setPermissions(ForklessLocalFileSystem.posixPerms(mode))
  }

  /** The stock (non-native) contract: a non-link is its `getFileStatus`; a
    * link is a non-directory status carrying its target's length, times and
    * permission; a dangling link is a zero status; a missing path throws
    * `FileNotFoundException`. One difference: the path resolves through
    * `pathToFile` like every other method here, where the stock reader runs
    * `readlink` on `f.toString` and so misses links behind a `file:` URI. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val target = ForklessLocalFileSystem.linkTarget(pathToFile(f))
    val fi =
      try {
        val st = getFileStatus(f)
        target.fold(st)(t => new FileStatus(st.getLen, false, st.getReplication,
          st.getBlockSize, st.getModificationTime, st.getAccessTime, st.getPermission,
          st.getOwner, st.getGroup, new Path(t), f))
      } catch {
        case _: FileNotFoundException if target.isDefined =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
            new Path(target.get), f)
      }
    if (fi.isSymlink)
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }
}

object ForklessLocalFileSystem {
  /** `0754` → `rwxr-xr--`. */
  private def posixPerms(mode: Int): java.util.Set[PosixFilePermission] =
    PosixFilePermissions.fromString((8 to 0 by -1)
      .map(i => if ((mode >> i & 1) == 1) "rwx"((8 - i) % 3) else '-').mkString)

  /** The link's raw target, or None where the stock `readlink` prints
    * nothing: not a link, missing, or unreadable. */
  private def linkTarget(file: File): Option[String] =
    try Some(Files.readSymbolicLink(file.toPath).toString)
    catch { case _: IOException => None }
}

/** `RawLocalFs` over [[ForklessLocalFileSystem]]. The stock class's
  * constructor is package-private and hard-wires `RawLocalFileSystem`, so
  * its four overrides are repeated here. */
class ForklessRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForklessLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("as in AbstractFileSystem", "")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** Hadoop's `LocalFs` (checksummed, so `.crc` files are written and
  * verified as before) over [[ForklessRawLocalFs]]. Bound to `file:` URIs
  * through [[ForklessLocalFs.ConfKey]], it serves every `FileContext` user:
  * Spark's default checkpoint file manager for offset, commit and source
  * logs and HDFS-backed state stores. */
class ForklessLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForklessRawLocalFs(uri, conf))

object ForklessLocalFs {
  /** The Hadoop key `FileContext` resolves its `file:` implementation by. */
  val ConfKey = "fs.AbstractFileSystem.file.impl"
}
