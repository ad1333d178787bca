package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev CLI: run the flagship entry or any registered query against an sf
  * dir and print rows + the formatted physical plan. `--time` then runs
  * the query three times to a noop write of its whole result (the action
  * the benchmark times) and prints each run and the minimum.
  *
  * Usage: runMain graft.tools.RunQuery [entry|<query-name>] [sfDir] [--plan] [--time]
  */
object RunQuery {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("entry")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (name == "stream-demo") { streamDemo(spark); spark.stop(); return }
    // dev hook: the F20 LM BUILD plan (normally hidden behind the
    // persisted-layout publish) — for plans/r<N> evidence of build-stage
    // changes
    val df = if (name == "entry") graft.SparkEntry.entry(spark)
      else if (name == "lm_build") graft.operators.TextAnalysis.lmScoreFresh(spark, sfDir)
      else if (name == "lm_db") graft.operators.TextAnalysis.lmDbStage(spark, sfDir)
      else graft.SparkEntry.queries(name)(spark, sfDir)
    if (args.contains("--plan")) println(df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode))
    println(s"ROWS=${df.count()}")
    if (args.contains("--time")) {
      val runs = (1 to 3).map { i =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val s = (System.nanoTime() - t0) / 1e9
        println(f"RUN$i=$s%.2fs")
        s
      }
      println(f"MIN=${runs.min}%.2fs")
    }
    df.show(10, truncate = false)
    spark.stop()
  }

  /** Drive the G1/G2 streaming transforms end-to-end through a real
    * streaming query (rate source → windowed agg / dedup → console). */
  private def streamDemo(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    val src = spark.readStream.format("rate").option("rowsPerSecond", "500").load()
      .select(col("timestamp").as("ts"),
        concat(lit("type"), (col("value") % 3).cast("string")).as("event_type"),
        (col("value") % 100).cast("double").as("value"))
    val q = graft.streaming.EventStreams.windowedCounts(src, "10 seconds", "5 seconds")
      .writeStream.outputMode("complete").format("console")
      .option("truncate", "false").start()
    Thread.sleep(6000)
    q.processAllAvailable()
    q.stop()
    val d = graft.streaming.EventStreams.dedupStream(src, Seq("event_type"))
      .writeStream.outputMode("append").format("console")
      .option("truncate", "false").start()
    Thread.sleep(4000)
    d.processAllAvailable()
    d.stop()
    println("STREAM_DEMO_DONE")
  }
}
