package graft

import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.atomic.AtomicInteger

import graft.io.ParquetSchemas
import graft.operators.ParJobs
import org.apache.spark.GraftTestShims
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** [[ParquetSchemas.read]] infers a table's schema once: a second read runs
  * no Spark job, a changed listing or inference conf infers again, and a
  * cached-schema read equals the inferred read. */
class ParquetSchemasSpec extends AnyFunSuite with SparkTestBase {

  private def tmp(): JPath = Files.createTempDirectory("graft-schemas")

  /** Spark jobs `body` runs on this thread (its own job group, so jobs of
    * specs running alongside are not counted). */
  private def jobsOf[A](body: => A): (A, Int) = {
    val group = s"schemas-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet(): Unit
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val a = try body finally sc.clearJobGroup()
      GraftTestShims.flushListeners(sc)
      (a, n.get())
    } finally sc.removeSparkListener(listener)
  }

  private def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  test("a second read of the same table runs no Spark job; the first runs one") {
    val p = tmp().resolve("t").toString
    spark.range(100).selectExpr("id", "id * 2 AS v").write.parquet(p)
    val (first, j1) = jobsOf(ParquetSchemas.read(spark, p))
    val (second, j2) = jobsOf(ParquetSchemas.read(spark, p))
    assert(j1 == 1, s"first read ran $j1 jobs")
    assert(j2 == 0, s"second read ran $j2 jobs")
    assert(second.schema == first.schema)
    assert(rows(second) == rows(first))
  }

  test("rewritten files re-infer the new schema") {
    val p = tmp().resolve("t").toString
    spark.range(10).selectExpr("id").write.parquet(p)
    assert(ParquetSchemas.read(spark, p).schema.fieldNames.toSeq == Seq("id"))
    spark.range(10).selectExpr("id", "cast(id AS string) AS s").write.mode("overwrite").parquet(p)
    val df = ParquetSchemas.read(spark, p)
    assert(df.schema == spark.read.parquet(p).schema)
    assert(df.schema.fieldNames.toSeq == Seq("id", "s"))
    assert(rows(df) == rows(spark.read.parquet(p)))
  }

  /** Runs `body` with session conf `key` set to each of `values` in turn,
    * restoring it after. */
  private def underConf(key: String, values: String*)(body: String => Unit): Unit = {
    val prior = spark.conf.getOption(key)
    try values.foreach { v => spark.conf.set(key, v); body(v) }
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  // files written with no Spark schema in the footer, as pyarrow writes
  // them, so inference follows the session confs

  test("flipping spark.sql.legacy.parquet.nanosAsLong re-infers ts") {
    val p = tmp().resolve("nanos").toString
    writeTs(p, "TIMESTAMP(NANOS,true)", 1704067200250000000L)
    underConf("spark.sql.legacy.parquet.nanosAsLong", "true", "false", "true") {
      case "true" =>
        assert(ParquetSchemas.read(spark, p).schema("ts").dataType == LongType)
      case _ =>
        // without the flag Spark refuses the type; a cached LONG must not hide that
        val want = intercept[AnalysisException](spark.read.parquet(p))
        val got = intercept[AnalysisException](ParquetSchemas.read(spark, p))
        assert(got.getCondition == want.getCondition)
    }
  }

  test("flipping spark.sql.parquet.inferTimestampNTZ.enabled re-infers ts") {
    val p = tmp().resolve("micros").toString
    writeTs(p, "TIMESTAMP(MICROS,false)", 1704067200250000L)
    underConf("spark.sql.parquet.inferTimestampNTZ.enabled", "true", "false", "true") { v =>
      val df = ParquetSchemas.read(spark, p)
      assert(df.schema == spark.read.parquet(p).schema)
      assert(df.schema("ts").dataType == (if (v == "true") TimestampNTZType else TimestampType))
      assert(rows(df) == rows(spark.read.parquet(p)))
    }
  }

  test("flat and partitionBy layouts: the cached-schema read equals the inferred read") {
    val root = tmp()
    val base = spark.range(200).selectExpr("id", "cast(id % 3 AS int) AS month",
      "concat('r', cast(id AS string)) AS name")
    val flat = root.resolve("flat").toString
    val parted = root.resolve("parted").toString
    base.repartition(4).write.parquet(flat)
    base.write.partitionBy("month").parquet(parted)
    Seq(flat, parted).foreach { p =>
      ParquetSchemas.read(spark, p)
      val (cached, jobs) = jobsOf(ParquetSchemas.read(spark, p))
      val inferred = spark.read.parquet(p)
      assert(jobs == 0, s"$p: the cached read ran $jobs jobs")
      assert(cached.schema == inferred.schema, s"$p: schema differs")
      assert(cached.columns.toSeq == inferred.columns.toSeq, s"$p: column order differs")
      assert(rows(cached) == rows(inferred), s"$p: rows differ")
    }
    assert(spark.read.parquet(parted).columns.toSeq == Seq("id", "name", "month"))
  }

  test("a missing path throws the same AnalysisException as spark.read.parquet") {
    val p = tmp().resolve("absent").toString
    val want = intercept[AnalysisException](spark.read.parquet(p))
    val got = intercept[AnalysisException](ParquetSchemas.read(spark, p))
    assert(got.getCondition == want.getCondition)
    assert(got.getMessage == want.getMessage)
  }

  test("8 ParJobs threads reading one table get one schema and no error") {
    val p = tmp().resolve("t").toString
    spark.range(50).selectExpr("id", "id + 1 AS v").write.parquet(p)
    val schemas = ParJobs.run(spark, "schemas spec")(
      Seq.fill(8)(() => ParquetSchemas.read(spark, p).schema))
    assert(schemas.distinct.size == 1)
    assert(schemas.head == spark.read.parquet(p).schema)
  }

  test("the LRU never holds more than its bound") {
    val root = tmp()
    val one = root.resolve("one").toString
    spark.range(1).write.parquet(one)
    val part = Files.list(JPath.of(one)).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    (0 until ParquetSchemas.Bound + 8).foreach { i =>
      val d = Files.createDirectory(root.resolve(s"t$i"))
      Files.copy(part, d.resolve("part-0.parquet"))
      ParquetSchemas.read(spark, d.toString)
      assert(ParquetSchemas.held <= ParquetSchemas.Bound)
    }
    assert(ParquetSchemas.held == ParquetSchemas.Bound)
  }

  /** One row of an int64 `ts` column with the given logical type. */
  private def writeTs(dir: String, logical: String, v: Long): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(s"message m { required int64 ts ($logical); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/part-0.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("ts", v))
    finally w.close()
  }
}
