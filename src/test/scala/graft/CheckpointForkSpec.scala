package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.jdk.CollectionConverters._

import graft.io.ForklessLocalFs
import graft.streaming.StreamGate
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.util.NativeCodeLoader
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the stream gates' checkpoint I/O to [[graft.io.ForklessLocalFs]]:
  * a multi-batch stateful gate starts no process from Spark's checkpoint
  * file manager, writes the same checkpoint files as the stock local file
  * system, resumes across the two in either direction, and leaves the
  * session conf as it found it. */
class CheckpointForkSpec extends AnyFunSuite with SparkTestBase {

  private val ckptStack = "CheckpointFileManager"
  private val schema = StructType(Seq(StructField("source", StringType),
    StructField("user_id", LongType)))
  private var queries = 0

  private def withDir[T](f: File => T): T = {
    val d = Files.createTempDirectory("ckpt-fork").toFile
    try f(d) finally org.apache.commons.io.FileUtils.deleteDirectory(d)
  }

  /** Runs `body` under a JFR recording of process starts; returns its
    * result and how many starts had a checkpoint file manager frame. */
  private def checkpointForks[T](body: => T): (T, Int) = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    val out = try body finally rec.stop()
    val jfr = Files.createTempFile("ckpt-fork", ".jfr")
    try {
      rec.dump(jfr)
      val forks = RecordingFile.readAllEvents(jfr).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .count(e => Option(e.getStackTrace).exists(_.getFrames.asScala
          .exists(_.getMethod.getType.getName.contains(ckptStack))))
      (out, forks)
    } finally { rec.close(); Files.deleteIfExists(jfr) }
  }

  /** Four parquet files of (source, user_id) from the sf0.001 events. */
  private def stage(d: File): Seq[File] = {
    Tables(spark, sfDir).events
      .select(col("event_type").as("source"), col("user_id"))
      .repartition(4).write.parquet(new File(d, "staged").getPath)
    new File(d, "staged").listFiles.toSeq
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
  }

  /** A stateful per-source aggregate, one input file per trigger, run
    * availableNow to a complete-mode memory sink. */
  private def runAgg(in: File, ckpt: File, forkless: Boolean): Seq[Row] = {
    queries += 1
    val name = s"ckpt_fork_$queries"
    if (forkless) spark.conf.set(ForklessLocalFs.ConfKey, classOf[ForklessLocalFs].getName)
    try {
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(in.getPath)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("user_id")).as("user_sum"))
        .writeStream.outputMode("complete").format("memory").queryName(name)
        .option("checkpointLocation", ckpt.getPath)
        .trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    } finally spark.conf.unset(ForklessLocalFs.ConfKey)
    spark.table(name).orderBy(col("source")).collect().toSeq
  }

  private def batchAgg(in: File): Seq[Row] =
    spark.read.parquet(in.getPath).groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("user_id")).as("user_sum"))
      .orderBy(col("source")).collect().toSeq

  private def relFiles(root: File): Set[String] = {
    val base = root.toPath
    Files.walk(base).iterator.asScala.filter(Files.isRegularFile(_))
      .map(p => base.relativize(p).toString).toSet
  }

  test("a multi-batch stateful gate starts no process from the checkpoint file manager") {
    assert(spark.conf.getOption(ForklessLocalFs.ConfKey).isEmpty)
    val (rows, forks) = checkpointForks(StreamGate.streamHll(spark, sfDir).collect())
    assert(rows.nonEmpty)
    assert(forks == 0)
    assert(spark.conf.getOption(ForklessLocalFs.ConfKey).isEmpty)
  }

  test("without libhadoop the stock file system forks and the forkless one does not") {
    assume(!NativeCodeLoader.isNativeCodeLoaded, "libhadoop sets modes without a fork")
    withDir { d =>
      val staged = new File(d, "staged")
      stage(d)
      val (_, stockForks) = checkpointForks(runAgg(staged, new File(d, "a"), forkless = false))
      val (_, forklessForks) = checkpointForks(runAgg(staged, new File(d, "b"), forkless = true))
      assert(stockForks > 0)
      assert(forklessForks == 0)
    }
  }

  test("checkpoint files, Hadoop .crc and Spark checksums included, match the stock FS") {
    withDir { d =>
      val staged = new File(d, "staged")
      stage(d)
      val (a, b) = (new File(d, "stock"), new File(d, "forkless"))
      val exp = batchAgg(staged)
      assert(runAgg(staged, a, forkless = false) == exp)
      assert(runAgg(staged, b, forkless = true) == exp)
      val names = relFiles(b)
      assert(names == relFiles(a))
      // Hadoop's checksums are hidden `.<name>.crc`; Spark's state-file
      // checksums are `<name>.crc`, each with its own Hadoop `.crc`
      val base = names.map(n => n.substring(n.lastIndexOf('/') + 1))
      assert(names("offsets/.0.crc") && names("commits/.0.crc"))
      assert(base.exists(n => !n.startsWith(".") && n.endsWith(".delta.crc")))
      assert(base.exists(n => n.startsWith(".") && n.endsWith(".delta.crc.crc")))
    }
  }

  test("a checkpoint written by one file system resumes under the other") {
    withDir { d =>
      val parts = stage(d)
      assert(parts.size == 4)
      val exp = batchAgg(new File(d, "staged"))
      for ((first, second) <- Seq(false -> true, true -> false)) {
        val in = new File(d, s"in_$first")
        val ckpt = new File(d, s"ckpt_$first")
        assert(in.mkdir())
        def feed(fs: Seq[File]): Unit = fs.foreach(f => Files.copy(f.toPath,
          new File(in, f.getName).toPath, StandardCopyOption.COPY_ATTRIBUTES))
        feed(parts.take(2))
        assert(runAgg(in, ckpt, first) != exp)
        feed(parts.drop(2))
        assert(runAgg(in, ckpt, second) == exp, s"forkless first: $first")
        assert(new File(ckpt, "commits").list.filterNot(_.startsWith(".")).sorted
          .toSeq == Seq("0", "1", "2", "3"))
      }
    }
  }

  test("the gate scope restores both confs, also when its body throws") {
    withDir { d =>
      val parts = "spark.sql.shuffle.partitions"
      val before = spark.conf.get(parts)
      val preset = classOf[org.apache.hadoop.fs.local.LocalFs].getName
      intercept[IllegalStateException](StreamGate.sizedToInput(spark, d.getPath) {
        assert(spark.conf.get(ForklessLocalFs.ConfKey) == classOf[ForklessLocalFs].getName)
        throw new IllegalStateException("gate failed")
      })
      assert(spark.conf.getOption(ForklessLocalFs.ConfKey).isEmpty)
      assert(spark.conf.get(parts) == before)
      spark.conf.set(ForklessLocalFs.ConfKey, preset)
      try {
        StreamGate.sizedToInput(spark, d.getPath)(())
        assert(spark.conf.get(ForklessLocalFs.ConfKey) == preset)
      } finally spark.conf.unset(ForklessLocalFs.ConfKey)
    }
  }
}
