package graft

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.Files

import graft.io.ForklessLocalFileSystem
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** Parity of [[graft.io.ForklessLocalFileSystem]] with the stock
  * `RawLocalFileSystem` it replaces on checkpoint paths: the same mode
  * bits after `setPermission`, the same `getFileLinkStatus` fields and
  * exceptions, and the stock path for modes it does not handle. */
class ForklessLocalFsSpec extends AnyFunSuite {

  private def init(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private val stock = init(new RawLocalFileSystem)
  private val forkless = init(new ForklessLocalFileSystem)

  private def withDir[T](f: File => T): T = {
    val d = Files.createTempDirectory("forkless-fs").toFile
    try f(d) finally org.apache.commons.io.FileUtils.deleteDirectory(d)
  }

  /** Permission bits of st_mode, setuid, setgid and sticky included. */
  private def mode(f: File): Int =
    Files.getAttribute(f.toPath, "unix:mode").asInstanceOf[Int] & 0xfff

  private def path(f: File) = new Path(f.getAbsolutePath)

  test("setPermission leaves the stock mode bits on files and directories") {
    withDir { d =>
      for (m <- Seq(0x1a4, 0x1ed, 0x1c0, 0x180); dir <- Seq(false, true)) { // 0644 0755 0700 0600
        val (a, b) = (new File(d, s"a_${m}_$dir"), new File(d, s"b_${m}_$dir"))
        for (f <- Seq(a, b)) {
          if (dir) assert(f.mkdir()) else assert(f.createNewFile())
          Files.setPosixFilePermissions(f.toPath,
            java.nio.file.attribute.PosixFilePermissions.fromString("rwxrwxrwx"))
        }
        stock.setPermission(path(a), new FsPermission(m.toShort))
        forkless.setPermission(path(b), new FsPermission(m.toShort))
        assert(mode(a) == m, f"stock ${mode(a)}%o for $m%o")
        assert(mode(b) == mode(a), f"forkless ${mode(b)}%o vs stock ${mode(a)}%o")
      }
    }
  }

  test("a mode beyond 0777 takes the stock path: the sticky bit is set") {
    withDir { d =>
      val (a, b) = (new File(d, "a"), new File(d, "b"))
      assert(a.mkdir() && b.mkdir())
      val sticky = new FsPermission(0x3ed.toShort) // 01755
      stock.setPermission(path(a), sticky)
      forkless.setPermission(path(b), sticky)
      assert(mode(a) == 0x3ed)
      assert(mode(b) == mode(a))
    }
  }

  test("setPermission on a missing path throws an IOException like the stock one") {
    withDir { d =>
      val p = path(new File(d, "missing"))
      val perm = new FsPermission(0x1a4.toShort)
      intercept[java.io.IOException](stock.setPermission(p, perm))
      intercept[java.io.IOException](forkless.setPermission(p, perm))
    }
  }

  private def fields(s: FileStatus): Seq[Any] =
    Seq(s.getPath, s.getLen, s.isFile, s.isDirectory, s.isSymlink,
      if (s.isSymlink) s.getSymlink else null, s.getReplication, s.getBlockSize,
      s.getModificationTime, s.getAccessTime, s.getPermission, s.getOwner, s.getGroup)

  private def linkStatus(fs: RawLocalFileSystem, p: Path): Either[Class[_], Seq[Any]] =
    try Right(fields(fs.getFileLinkStatus(p)))
    catch { case e: java.io.IOException => Left(e.getClass) }

  /** A regular file, a directory, a link to the file, a dangling link and a
    * missing path under `d`. */
  private def layout(d: File): Seq[File] = {
    val file = new File(d, "file")
    Files.write(file.toPath, "0123456789".getBytes)
    val dir = new File(d, "dir")
    assert(dir.mkdir())
    val link = new File(d, "link")
    Files.createSymbolicLink(link.toPath, file.toPath)
    val dangling = new File(d, "dangling")
    Files.createSymbolicLink(dangling.toPath, new File(d, "gone").toPath)
    Seq(file, dir, link, dangling, new File(d, "missing"))
  }

  test("getFileLinkStatus: same fields and exceptions as the stock one") {
    withDir { d =>
      val Seq(file, dir, link, dangling, missing) = layout(d)
      for (f <- Seq(file, dir, link, dangling, missing))
        assert(linkStatus(forkless, path(f)) == linkStatus(stock, path(f)), f.getName)
      assert(linkStatus(stock, path(file)).exists(s => s(2) == true))
      assert(linkStatus(stock, path(dir)).exists(s => s(3) == true))
      assert(linkStatus(stock, path(link)).exists(s => s(4) == true && s(1) == 10L))
      assert(linkStatus(stock, path(dangling)).exists(s => s(4) == true && s(1) == 0L))
      assert(linkStatus(stock, path(missing)) == Left(classOf[FileNotFoundException]))
    }
  }

  test("getFileLinkStatus on file: URIs matches for non-links and sees links") {
    withDir { d =>
      val Seq(file, dir, link, _, missing) = layout(d)
      def uri(f: File) = new Path(f.toURI)
      for (f <- Seq(file, dir, missing))
        assert(linkStatus(forkless, uri(f)) == linkStatus(stock, uri(f)), f.getName)
      // the stock reader runs `readlink` on the URI string and misses the
      // link; the forkless one resolves the path as getFileStatus does
      val (viaUri, viaPath) =
        (forkless.getFileLinkStatus(uri(link)), forkless.getFileLinkStatus(path(link)))
      assert(viaUri.isSymlink && viaUri.getSymlink == viaPath.getSymlink)
      assert(!stock.getFileLinkStatus(uri(link)).isSymlink)
    }
  }
}
