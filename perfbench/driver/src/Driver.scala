package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's JVM side. Runs graft entries (`graft.SparkEntry.queries`)
  * from one client thread on a local[4] session and writes what it saw as
  * one JSON file; `perfbench/run.py` turns that into the reported metrics.
  *
  *   --mode run       a check pass (each result written to parquet with the
  *                    oracle SQL beside it), a warmup pass, then passes over
  *                    the op list until --seconds have gone by; with
  *                    --trace 1, passes alternate untraced and traced
  *                    (U T T U ...)
  *   --mode pin       one timed op under a probe, for the materialization
  *                    self-test
  *   --mode evidence  count() against the noop write, min of 3 each
  *
  * Every timed op is the entry call followed by a noop write of its whole
  * result ([[materialize]]); nothing here times `count()` outside the
  * evidence mode.
  */
object Driver {
  val Cores = 4
  private val RootKeys = Seq("graft.scratch.root" -> "scratch",
    "graft.ivf.root" -> "ivf", "graft.lm.root" -> "lm", "graft.card.root" -> "card")

  type Entry = (SparkSession, String) => DataFrame

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val jvmToMainS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val work = new File(o("work"))
    val t0 = System.nanoTime
    val spark = session(work)
    val sessionS = (System.nanoTime - t0) / 1e9
    val all = graft.SparkEntry.queries
    val fns = o("ops").split(",").toSeq.map(n =>
      n -> all.getOrElse(n, throw new IllegalArgumentException(s"unknown op $n")))
    val ctx = new Ctx(spark, o("inputs"), work)
    val body = o.getOrElse("mode", "run") match {
      case "run" => ctx.run(fns, o("seconds").toDouble, o("trace") == "1")
      case "pin" => ctx.pin(fns.head)
      case "evidence" => ctx.evidence(fns)
    }
    val out = Map("jvm_to_main_s" -> jvmToMainS, "session_s" -> sessionS) ++ body
    Files.writeString(Paths.get(o("out")), Json(out))
    spark.stop()
  }

  def session(work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("graft.ivf.refine", "0")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "local").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "tmp").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The timed action: a noop write materializes every column of every row. */
  def materialize(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def pointRoots(spark: SparkSession, dir: File): Unit =
    RootKeys.foreach { case (k, sub) => spark.conf.set(k, new File(dir, sub).getAbsolutePath) }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def countFiles(f: File, sinceMs: Long): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(countFiles(_, sinceMs)).sum).getOrElse(0L)
    else if (f.isFile && f.lastModified >= sinceMs) 1L else 0L

  def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"

  /** Process-wide counters read around each traced op. */
  final case class Counters(compileNs: Long, compiles: Long, jitMs: Long, gcMs: Long)
  object Counters {
    def now(): Counters = Counters(
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum)
  }

  final case class Span(id: Int, parent: Int, layer: String, name: String, start: Long, end: Long)

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L; var cur = lo
    for ((s, e) <- iv.map { case (s, e) => (s max lo, e min hi) }.filter(x => x._2 > x._1).sortBy(_._1)) {
      val s1 = s max cur
      if (e > s1) { total += e - s1; cur = e }
    }
    total
  }
}

final class Ctx(spark: SparkSession, inputs: String, work: File) {
  import Driver._

  private val sc = spark.sparkContext
  private val warehouse = new File(work, "warehouse")
  private var seq = 0
  // epoch microseconds = nanoTime / 1000 + offset
  private val epochOffsetUs = System.currentTimeMillis * 1000 - System.nanoTime / 1000
  private def epochUs(nano: Long): Long = nano / 1000 + epochOffsetUs

  private def freshDir(under: String): File = {
    seq += 1
    val d = new File(work, s"$under/$seq"); d.mkdirs(); d
  }

  /** Untimed correctness pass, which is also the warmup: each op's result
    * goes to parquet for the DuckDB compare, with its oracle SQL built
    * after the op's scratch root is set (so both resolve the same root). */
  private def check(fns: Seq[(String, Entry)]): Map[String, Any] = {
    val oracle = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    val t = System.nanoTime
    for ((name, fn) <- fns) {
      pointRoots(spark, new File(work, s"check/$name"))
      try {
        fn(spark, inputs).coalesce(1).write.mode("overwrite")
          .parquet(new File(work, s"check_out/$name").getAbsolutePath)
        graft.SparkEntry.oracleSql.get(name).foreach(oracle(name) = _)
      } catch { case NonFatal(e) => errors(name) = message(e) }
      println(f"[perfbench] check $name ${(System.nanoTime - t) / 1e9}%.2f")
    }
    Map("check_s" -> (System.nanoTime - t) / 1e9, "oracle" -> oracle.toMap,
      "check_errors" -> errors.toMap)
  }

  def run(fns: Seq[(String, Entry)], seconds: Double, trace: Boolean): Map[String, Any] = {
    val checked = check(fns)
    val probe = new Probe
    val ops = ArrayBuffer.empty[Map[String, Any]]
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val spans = ArrayBuffer.empty[Span]
    var spanId = 0
    def span(parent: Int, layer: String, name: String, s: Long, e: Long): Int = {
      spanId += 1; spans += Span(spanId, parent, layer, name, s, e); spanId
    }
    val minPasses = if (trace) 2 else 1
    // pass -1 is the warmup: a noop pass after the check pass, reported
    // apart; the measured window opens when it ends
    var loopStart = 0L
    var p = -1
    while (p < minPasses || System.nanoTime - loopStart < seconds * 1e9) {
      if (p == 0) loopStart = System.nanoTime
      // untraced and traced passes in the order U T T U U T T U ..., so
      // warming over the run favours neither side of the overhead figure
      val traced = trace && (p % 4 == 1 || p % 4 == 2)
      if (traced) {
        sc.addSparkListener(probe); spark.listenerManager.register(probe)
        spark.streams.addListener(probe.streams)
        PerfbenchBus.drain(sc); probe.take()
      }
      val dirs = ArrayBuffer.empty[File]
      val passStart = System.nanoTime
      val passSpan = if (traced) { spanId += 1; spanId } else 0
      for ((name, fn) <- fns) {
        val dir = freshDir("ops"); dirs += dir
        pointRoots(spark, dir)
        val before = if (traced) Counters.now() else null
        val startMs = System.currentTimeMillis
        var err: String = null
        val t0 = System.nanoTime
        var t1 = 0L
        var df: DataFrame = null
        try {
          df = fn(spark, inputs)
          t1 = System.nanoTime
          materialize(df)
        } catch { case NonFatal(e) => err = message(e) }
        val t2 = System.nanoTime
        if (t1 == 0L) t1 = t2
        var rec = Map[String, Any]("name" -> name, "pass" -> p, "traced" -> traced,
          "t_s" -> (t2 - t0) / 1e9, "error" -> err)
        if (traced) {
          PerfbenchBus.drain(sc)
          val after = Counters.now()
          val (jobs, stages, tasks, seen, _, triggers) = probe.take()
          // the result's own analysis ran in the entry call, outside any
          // executed query the listener reports
          val phases = seen ++ Option(df).toSeq.flatMap(_.queryExecution.tracker.phases
            .get("analysis").map(s => PhaseEv("analysis", s.startTimeMs, s.endTimeMs)))
          val (s0, s1, s2) = (epochUs(t0), epochUs(t1), epochUs(t2))
          val opSpan = span(passSpan, "op", name, s0, s2)
          val build = span(opSpan, "build", name, s0, s1)
          val mat = span(opSpan, "materialize", name, s1, s2)
          def holder(us: Long) = if (us < s1) build else mat
          phases.foreach(ph => span(holder(ph.start * 1000), "plan", ph.phase, ph.start * 1000, ph.end * 1000))
          val trigSpans = triggers.map { tr =>
            val s = tr.start * 1000; val e = s + tr.durations.getOrElse("triggerExecution", 0L) * 1000
            (span(holder(s), "trigger", tr.query, s, e), s, e)
          }
          jobs.foreach { j =>
            val s = j.start * 1000
            val parent = trigSpans.find(t => s >= t._2 && s < t._3).map(_._1).getOrElse(holder(s))
            span(parent, "job", "job", s, j.end * 1000)
          }
          def ph(k: String) = phases.filter(_.phase == k).map(x => x.end - x.start).sum
          def dur(k: String) = triggers.map(_.durations.getOrElse(k, 0L)).sum
          val lastState = triggers.groupBy(_.query).values.map(_.last)
          val mb = 1024.0 * 1024.0
          rec ++= Map(
            "op.build_s" -> (t1 - t0) / 1e9,
            "plan.analysis_ms" -> ph("analysis"),
            "plan.optimization_ms" -> ph("optimization"),
            "plan.physical_ms" -> ph("planning"),
            "codegen.compile_ms" -> (after.compileNs - before.compileNs) / 1e6,
            "codegen.compiles" -> (after.compiles - before.compiles),
            "jit.compile_ms" -> (after.jitMs - before.jitMs),
            "jvm.gc_ms" -> (after.gcMs - before.gcMs),
            "spark.jobs" -> jobs.size,
            "spark.stages" -> stages,
            "spark.tasks" -> tasks.size,
            "tasks.empty" -> tasks.count(_.readRows == 0),
            "spark.outside_jobs_s" ->
              ((s2 - s0) - covered(jobs.map(j => (j.start * 1000, j.end * 1000)), s0, s2)) / 1e6,
            "tasks.run_s" -> tasks.map(_.runMs).sum / 1e3,
            "tasks.cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
            "tasks.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
            "shuffle.read_mb" -> tasks.map(_.shuffleReadBytes).sum / mb,
            "shuffle.write_mb" -> tasks.map(_.shuffleWriteBytes).sum / mb,
            "shuffle.spill_mb" -> tasks.map(_.spillBytes).sum / mb,
            "io.read_mb" -> tasks.map(_.readBytes).sum / mb,
            "io.write_mb" -> tasks.map(_.writeBytes).sum / mb,
            "io.files_written" -> (countFiles(dir, startMs) + countFiles(warehouse, startMs)),
            "stream.triggers" -> triggers.size,
            "stream.addBatch_ms" -> dur("addBatch"),
            "stream.engine_ms" -> (dur("triggerExecution") - dur("addBatch")),
            "stream.queryPlanning_ms" -> dur("queryPlanning"),
            "stream.walCommit_ms" -> dur("walCommit"),
            "stream.state_rows" -> lastState.map(_.stateRows).sum,
            "stream.state_mb" -> lastState.map(_.stateBytes).sum / mb,
            "stream.state_commit_ms" -> triggers.map(_.stateCommitMs).sum,
            "trigger_ms" -> triggers.map(_.durations.getOrElse("triggerExecution", 0L)))
        }
        ops += rec
        println(f"[perfbench] pass $p $name ${(t2 - t0) / 1e9}%.3f")
      }
      val passEnd = System.nanoTime
      if (traced) {
        spans += Span(passSpan, 0, "run", s"pass$p", epochUs(passStart), epochUs(passEnd))
        sc.removeSparkListener(probe); spark.listenerManager.unregister(probe)
        spark.streams.removeListener(probe.streams)
      }
      passes += Map("pass" -> p, "traced" -> traced, "wall_s" -> (passEnd - passStart) / 1e9)
      dirs.foreach(deleteTree)
      p += 1
    }
    if (trace) {
      val f = new File(work, "spans.jsonl")
      Files.write(f.toPath, spans.sortBy(_.id).map(s => Json(Map("id" -> s.id, "parent" -> s.parent,
        "layer" -> s.layer, "name" -> s.name, "start_us" -> s.start, "end_us" -> s.end))).asJava)
    }
    // heap left in use after full collections: the pools' usage as of
    // their last collection, so allocation after the GC does not count
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    val heapMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / (1024.0 * 1024.0)
    checked ++ Map("ops" -> ops.toSeq, "passes" -> passes.toSeq, "retained_heap_mb" -> heapMb)
  }

  /** One timed op under a probe: what the last write of the op was, which
    * columns it wrote, and whether every Spark job ended before the timer
    * stopped. */
  def pin(fn: (String, Entry)): Map[String, Any] = {
    val probe = new Probe
    sc.addSparkListener(probe); spark.listenerManager.register(probe)
    pointRoots(spark, freshDir("ops"))
    val t0 = System.nanoTime
    val df = fn._2(spark, inputs)
    val columns = df.columns.toSeq
    materialize(df)
    val t2 = System.nanoTime
    PerfbenchBus.drain(sc)
    val (jobs, _, _, _, writes, _) = probe.take()
    Map("columns" -> columns, "jobs" -> jobs.size,
      "last_job_end_ms" -> jobs.map(_.end).maxOption.getOrElse(0L),
      "timer_start_ms" -> epochUs(t0) / 1000.0, "timer_stop_ms" -> epochUs(t2) / 1000.0,
      "last_write_table" -> writes.lastOption.map(_.table).orNull,
      "last_write_columns" -> writes.lastOption.map(_.columns).getOrElse(Nil))
  }

  /** count() against the noop write on the same op, warm, min of 3 each. */
  def evidence(fns: Seq[(String, Entry)]): Map[String, Any] = {
    def time(f: DataFrame => Unit, fn: Entry): Double = {
      pointRoots(spark, freshDir("ops"))
      val t0 = System.nanoTime; f(fn(spark, inputs)); (System.nanoTime - t0) / 1e9
    }
    Map("evidence" -> fns.map { case (name, fn) =>
      time(materialize, fn)
      val c = (1 to 3).map(_ => time(df => df.count(), fn)).min
      val n = (1 to 3).map(_ => time(materialize, fn)).min
      name -> Map("count_s" -> c, "noop_s" -> n)
    }.toMap)
  }
}

/** Minimal JSON encoder for maps, sequences, strings, numbers and null. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
        case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
