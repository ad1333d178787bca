package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // driver contract: exactly (sfDir, outDir); extra args are an optional
    // query-name filter for fast local iteration, where a trailing `*`
    // matches a name prefix (`stream_*`)
    val sfDir = args(0); val outDir = args(1)
    val only = args.drop(2).toSeq
    def wanted(name: String): Boolean = only.isEmpty || only.exists(p =>
      if (p.endsWith("*")) name.startsWith(p.dropRight(1)) else p == name)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet carries TIMESTAMP(NANOS); Spark has no ns timestamp
      // type — read as raw ns-since-epoch longs (exact integer math)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the IVF-family oracles replay the refine=0 label-mean quantizer;
      // pin the conf so a session-level override (graft.ivf.refine>0
      // changes the trained centroids) can never masquerade as an engine
      // bug in the correctness gate
      .config("graft.ivf.refine", "0")
      .getOrCreate()
    spark.conf.set("graft.ivf.refine", "0")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => wanted(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
