package graft.io

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.types.StructType

import scala.util.control.NonFatal

/** Parquet reads that infer each input's schema once per process.
  *
  * `spark.read.parquet(path)` runs a one-task Spark job that reads footers
  * to infer the schema, on every call. Input tables are read many times
  * and rewritten rarely, so [[read]] keeps inferred schemas in a bounded,
  * thread-safe LRU. On a hit it reads with `spark.read.schema(cached)`,
  * which runs no job and gives the same schema and plan.
  *
  * A hit must match all of the key:
  *  - the qualified path;
  *  - the listing signature: name, length and modification time of every
  *    file Spark's file index sees under the path, recursively;
  *  - the set values of the confs schema and partition inference read:
  *    `spark.sql.parquet.*`, `spark.sql.legacy.parquet.*`,
  *    `spark.sql.caseSensitive` and
  *    `spark.sql.sources.partitionColumnTypeInference.enabled`.
  *
  * The listing is taken on every read, so a rewritten table (new names,
  * sizes or times) misses and is inferred again. The one rewrite it cannot
  * see keeps a file's name and size within the same millisecond of
  * modification time; Spark's own relation cache has the same limit. A
  * failed read is never cached, and a glob path bypasses the cache.
  */
object ParquetSchemas {

  /** Most schemas held; the least recently used goes first. */
  private[graft] val Bound = 64

  private final case class Key(path: String, files: Seq[(String, Long, Long)],
      confs: Seq[(String, String)])

  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[Key, StructType](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Key, StructType]): Boolean =
        size() > Bound
    })

  def read(spark: SparkSession, path: String): DataFrame =
    keyOf(spark, path).fold(spark.read.parquet(path)) { key =>
      Option(schemas.get(key)) match {
        case Some(schema) => spark.read.schema(schema).parquet(path)
        case None =>
          val df = spark.read.parquet(path)
          schemas.put(key, df.schema)
          df
      }
    }

  /** Schemas held now. */
  private[graft] def held: Int = schemas.size

  private def inferenceConf(k: String): Boolean =
    k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
      k == "spark.sql.caseSensitive" ||
      k == "spark.sql.sources.partitionColumnTypeInference.enabled"

  /** None for a glob (Spark reads what it matches, not the literal path)
    * or a path that does not list: those read uncached. */
  private def keyOf(spark: SparkSession, path: String): Option[Key] =
    if (path.exists("{}[]*?\\".contains(_))) None
    else try {
      val (qualified, files) = listing(spark, path)
      Some(Key(qualified, files,
        spark.conf.getAll.toSeq.filter { case (k, _) => inferenceConf(k) }.sorted))
    } catch { case NonFatal(_) => None }

  /** The listing signature of `path`: its qualified form, and the sorted
    * (path, length, modification time) of every file Spark's file index
    * sees under it, recursively. Also the staleness stamp of
    * [[Artifacts]]. Throws when `path` does not exist. */
  private[io] def listing(spark: SparkSession, path: String): (String, Seq[(String, Long, Long)]) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq
        .filterNot(s => GraftShims.hiddenPathName(s.getPath.getName))
        .flatMap(files)
    val root = fs.getFileStatus(p)
    (root.getPath.toString,
      files(root).map(s => (s.getPath.toString, s.getLen, s.getModificationTime)).sorted)
  }
}
