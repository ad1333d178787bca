package graft.io

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** Versioned artifacts derived once per corpus version and read many times:
  * the IVF index, the LM scores and the corpus-cardinality estimate.
  *
  * An artifact of `kind` for corpus dir `dir` lives under [[root]], in the
  * scratch root (`graft.scratch.root`). Each version is a directory
  * `v_<hash>`, the hash taken over a build epoch (layout schema and build
  * config, bumped when either changes) and the listing signature of the
  * input table ([[ParquetSchemas.listing]]: every file under it,
  * recursively, with length and modification time). Any rewrite the
  * listing sees names a new version, so a changed input is never served
  * an old artifact.
  *
  * A missing version is built into `v_<hash>_tmp_<pid>` and published
  * with one rename, so a reader never sees a half-built artifact. When two
  * builders race, the rename loser discards its copy and serves the
  * winner's. `_GRAFT_STAMP` (the readable stamp) is written last. After a
  * build, versions other than the current one and the newest superseded
  * one are deleted: a reader that resolved the previous version may still
  * scan it lazily. `_tmp_` dirs are never touched.
  */
object Artifacts {

  /** Root of `kind`'s artifacts for `dir`: a readable basename plus a
    * hash of the absolute path, so two dirs whose sanitized names collide
    * ("/data/sf-1" vs "/data/sf_1") get distinct roots. */
  def root(spark: SparkSession, kind: String, dir: String): String = {
    val abs = new File(dir).getAbsolutePath
    val name = abs.replaceAll("[^A-Za-z0-9.]+", "_").replaceAll("^_+", "").takeRight(40)
    graft.Tables.scratch(spark, s"graft_$kind") + s"/${name}_${md5(abs).take(10)}"
  }

  /** The published version dir of `kind` for the current `dir/table`
    * under `epoch`. `build` fills the dir it is given and runs only when
    * that version is not published yet. */
  def version(spark: SparkSession, kind: String, dir: String, table: String,
      epoch: String)(build: String => Unit): String = {
    val base = new File(root(spark, kind, dir))
    val stamp = (epoch +: ParquetSchemas.listing(spark, s"$dir/$table")._2
      .map { case (path, len, mtime) => s"$path:$len:$mtime" }).mkString("|")
    val ver = new File(base, s"v_${md5(stamp).take(12)}")
    if (!ver.exists()) {
      val tmp = new File(base, s"${ver.getName}_tmp_${ProcessHandle.current().pid()}")
      tmp.mkdirs()
      build(tmp.getPath)
      if (!tmp.renameTo(ver)) {
        rmTree(tmp)
        require(ver.exists(), s"$kind artifact publish failed for $ver")
      }
      Files.writeString(new File(base, "_GRAFT_STAMP").toPath, stamp)
      // name breaks mtime ties, so every builder agrees on the survivor
      base.listFiles()
        .filter(f => f.getName.startsWith("v_") && f.getName != ver.getName &&
          !f.getName.contains("_tmp_"))
        .sortBy(f => (-f.lastModified, f.getName))
        .drop(1)
        .foreach(rmTree)
    }
    ver.getPath
  }

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def rmTree(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmTree)
    f.delete(): Unit
  }
}
