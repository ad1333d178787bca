package graft.streaming

import graft.Tables
import graft.io.ForklessLocalFs
import graft.operators.{LoadOps, Relational, Similarity}
import org.apache.spark.sql.{Column, DataFrame, GraftShims, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import scala.util.control.NonFatal

/** Oracle-gate entry points for the G-family (SURVEY §2 G): each runs a
  * REAL Structured Streaming query to completion (file source → sink,
  * through the streaming engine's state machinery), then returns the
  * materialized result as a batch frame that Verify checks against a
  * DuckDB oracle.
  *
  * Determinism contract per entry: operators whose cross-batch semantics
  * are ARRIVAL-ORDER-dependent (sessionize, the breaker, the paragraph
  * and novelty ledgers, Markov and top-paths boundary state) run as one
  * micro-batch — the in-order case their docs declare, where stream ≡
  * batch provably; operators whose state folds ASSOCIATIVELY run
  * MULTI-batch (`maxFilesPerTrigger=1` over a multi-file input) because
  * any batch split folds to the same answer. The multi-batch specs in
  * StreamingSpec stay the slicing-equivalence proof; these entries are
  * the end-to-end oracle check. */
object StreamGate {

  /** Fresh scratch dir (state/checkpoint/input must not leak between
    * gate runs — a stale checkpoint would mark the input processed and
    * the sink would stay empty); cached fold generations under it go
    * with it. */
  private[graft] def fresh(spark: SparkSession, name: String): String = {
    val dir = Tables.scratch(spark, s"graft_stream/$name")
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    EventStreams.evictFolds(dir)
    dir
  }

  /** Run one gate's streaming section under two scoped session confs:
    * - `spark.sql.shuffle.partitions`, which fixes the state-store count,
    *   sized to the staged input: one per 16 MiB, at least 8, at most the
    *   session's parallelism unless that is below 8;
    * - [[ForklessLocalFs]] for `file:` checkpoints (no fork per file).
    * Both stay set through `awaitTermination` (the stream clones the
    * session on its own thread) and are restored even if the body throws;
    * then the state-store providers are unloaded so the gate's state does
    * not tax what runs next. Gates run serially on the shared session; a
    * concurrent caller must give each gate its own `spark.newSession()`. */
  private[graft] def sizedToInput[T](spark: SparkSession, base: String)(body: => T): T = {
    val p = new org.apache.hadoop.fs.Path(base)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = try fs.getContentSummary(p).getLength catch { case NonFatal(_) => 0L }
    val per = 16L << 20
    val parts = math.max(8L, math.min(
      spark.sparkContext.defaultParallelism.toLong, (bytes + per - 1) / per))
    val scoped = Seq("spark.sql.shuffle.partitions" -> parts.toString,
      ForklessLocalFs.ConfKey -> classOf[ForklessLocalFs].getName)
    val prev = scoped.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      scoped.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally {
      prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      try org.apache.spark.sql.GraftShims.unloadStateStores()
      catch { case NonFatal(_) => () }
    }
  }

  /** Writes `df` to `path` and reads it back as a file stream with `df`'s
    * own schema, made nullable. `files > 1` splits it into that many files
    * and feeds one per trigger; 1 keeps its layout and reads it all in
    * one batch. */
  private def fileStream(spark: SparkSession, path: String, df: DataFrame,
      files: Int): DataFrame = {
    (if (files > 1) df.repartition(files) else df).write.parquet(path)
    val in = spark.readStream.schema(GraftShims.asNullable(df.schema))
    (if (files > 1) in.option("maxFilesPerTrigger", "1") else in).parquet(path)
  }

  /** A gate's fresh root `base` and its staged input as a file stream. */
  private final case class Staged(spark: SparkSession, name: String, base: String,
      stream: DataFrame) {
    def state: String = s"$base/state"
    def report: DataFrame = spark.read.parquet(s"$state/report")

    /** The staged input as a batch frame, read with the stream's schema:
      * no footer-read job to infer it again. */
    def batch: DataFrame = spark.read.schema(stream.schema).parquet(s"$base/in")

    /** A second input under the same root (see [[fileStream]]). */
    def input(sub: String, df: DataFrame, files: Int): DataFrame =
      fileStream(spark, s"$base/$sub", df, files)

    /** Runs the query `start` begins under [[sizedToInput]] until it has
      * consumed the staged input: an `AvailableNow` query ends by itself,
      * any other is drained and stopped. */
    def drain(availableNow: Boolean = false)(start: => StreamingQuery): Unit =
      sizedToInput(spark, base) {
        val q = start
        if (!availableNow) { q.processAllAvailable(); q.stop() }
        q.awaitTermination()
      }

    /** Runs `df` into the memory table `graft_stream_<name>` and returns
      * it; `availableNow = false` keeps the default trigger. */
    def toMemory(df: DataFrame, mode: String, availableNow: Boolean = true): DataFrame = {
      val table = s"graft_stream_$name"
      val w = df.writeStream.outputMode(mode).format("memory").queryName(table)
        .option("checkpointLocation", s"$base/ckpt")
      drain(availableNow)((if (availableNow) w.trigger(Trigger.AvailableNow()) else w).start())
      spark.table(table)
    }

    /** Runs `df` into the append-mode parquet sink `base/out` and reads it. */
    def toParquet(df: DataFrame): DataFrame = {
      drain()(df.writeStream.outputMode("append").format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt").start())
      spark.read.parquet(s"$base/out")
    }
  }

  /** Makes the fresh root `graft_stream/<name>` and stages `df` under
    * `in` (see [[fileStream]]). */
  private def stage(spark: SparkSession, name: String, df: DataFrame,
      files: Int = 1): Staged = {
    val base = fresh(spark, name)
    Staged(spark, name, base, fileStream(spark, s"$base/in", df, files))
  }

  /** One cell-fold gate: input projection, input file count, fold and
    * report order. Every fold runs multi-batch: its cells are additive. */
  private final case class FoldGate(input: Tables => DataFrame, files: Int,
      fold: Tables => CellFold, order: String*)

  private def fold(input: Tables => DataFrame, f: CellFold, order: String*): FoldGate =
    FoldGate(input, 4, _ => f, order: _*)

  private def dayCents(t: Tables): DataFrame = t.eventsSec
    .select(col("event_type").as("source"),
      expr("sec div 86400").cast("long").as("day"),
      expr("cast(round(value * 100) as long)").as("cents"))

  /** Scores (cents) labeled positive on weekend days. */
  private def labeled(t: Tables): DataFrame = t.eventsSec
    .select(col("event_type").as("source"),
      expr("cast(round(value * 100) as long)").as("cents"),
      expr("cast(((sec div 86400) + 4) % 7 in (0, 6) as long)").as("pos"))

  private def telemetry(t: Tables): DataFrame =
    t.eventsSec.select(col("event_type"), col("sec"), col("value"))

  /** The chi-square gate's frozen baseline: each source's corpus time
    * midpoint, the split D47's batch pass derives itself. */
  private def midpoints(t: Tables): DataFrame = t.eventsSec
    .groupBy(col("event_type"))
    .agg(expr("min(sec) + (max(sec) - min(sec)) div 2").as("ref_end_sec"))
    .localCheckpoint(true)

  /** The cell-fold gates; each final report equals its batch operator
    * and shares that operator's oracle. */
  private val foldGates: Seq[(String, FoldGate)] = Seq(
    "decay"         -> fold(telemetry, CellFold.decay, "source", "day"),
    "chi2"          -> FoldGate(_.eventsSec.select(col("event_type"), col("sec")), 4,
                         t => CellFold.chi2(midpoints(t)), "event_type"),
    "changepoint"   -> fold(telemetry, CellFold.changepoint, "source"),
    "cramers"       -> fold(_.lineitem.select(col("l_returnflag").as("a"),
                         col("l_linestatus").as("b")),
                         CellFold.cramers("l_returnflag", "l_linestatus")),
    "winsorized"    -> fold(_.lineitem.select(col("l_returnflag").as("flag"),
                         expr("cast(round(l_extendedprice * 100) as long)").as("v")),
                         CellFold.winsorized, "l_returnflag"),
    "cusum"         -> fold(t => LoadOps.dailyMd(t.spark, t.dir), CellFold.cusum,
                         "source", "day"),
    "page_hinkley"  -> fold(t => LoadOps.dailyMd(t.spark, t.dir), CellFold.pageHinkley,
                         "source", "day"),
    "psi"           -> fold(dayCents, CellFold.psi, "source"),
    "auc"           -> fold(labeled, CellFold.auc, "source"),
    "mann_kendall"  -> fold(dayCents, CellFold.mannKendall, "source"),
    "forecast_eval" -> fold(dayCents, CellFold.forecastEval, "source"),
    "calibration"   -> fold(labeled, CellFold.calibration, "source", "bin"),
    "srm"           -> fold(_.events.select(col("event_type"), col("user_id")),
                         CellFold.srm, "event_type"),
    "abtest"        -> fold(_.events.select(col("event_type"), col("user_id"), col("value")),
                         CellFold.abtest, "event_type"),
    "drift"         -> FoldGate(t => Similarity.vectors(t.spark, t.dir), 3,
                         _ => CellFold.drift, "label"),
    "heavy_hitters" -> fold(_.events.select(col("user_id")), CellFold.heavyHitters,
                         "user_id"),
    "holt"          -> fold(dayCents, CellFold.holt, "source", "day"),
    "seasonal"      -> fold(dayCents, CellFold.seasonal(LoadOps.SeasonalTrainDays),
                         "source", "day"),
    "hampel"        -> fold(dayCents, CellFold.hampel, "source", "day"),
    "benford"       -> fold(_.events.select(col("event_type").as("source"),
                         expr("cast(round(value * 100) as long)").as("cents")),
                         CellFold.benford, "source", "digit"))

  private def runFold(name: String, g: FoldGate)(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val s = stage(spark, name, g.input(t), g.files)
    val f = g.fold(t)
    s.drain()(EventStreams.foldStream(s.stream, s.state, f))
    if (g.order.isEmpty) s.report else s.report.orderBy(g.order.map(col): _*)
  }

  /** Every stream gate by registered name. */
  val gates: Map[String, (SparkSession, String) => DataFrame] =
    foldGates.map { case (name, g) => s"stream_$name" -> (runFold(name, g) _) }.toMap ++ Map(
      "stream_window_agg"      -> streamWindowAgg _,
      "stream_dedup"           -> streamDedup _,
      "stream_sessionize"      -> streamSessionize _,
      "stream_paragraph_dedup" -> streamParagraphDedup _,
      "stream_markov"          -> streamMarkov _,
      "stream_top_paths"       -> streamTopPaths _,
      "stream_constraints"     -> streamConstraints _,
      "stream_changelog"       -> streamChangelog _,
      "stream_breaker"         -> streamBreaker _,
      "stream_novelty"         -> streamNovelty _,
      "stream_enrich"          -> streamEnrich _,
      "stream_join"            -> streamJoin _,
      "stream_staleness"       -> streamStaleness _,
      "stream_outer_join"      -> streamOuterJoin _,
      "stream_cms"             -> streamCms _,
      "stream_hll"             -> streamHll _,
      "stream_quantile"        -> streamQuantile _,
      "stream_bloom"           -> streamBloom _)

  /** G1 gate: watermarked tumbling-window aggregation run availableNow in
    * complete mode — the final table equals E13's batch bucketing (same
    * epoch-aligned 1-hour windows), oracled by the same SQL. */
  def streamWindowAgg(spark: SparkSession, dir: String): DataFrame = {
    val s = stage(spark, "window_agg", Tables(spark, dir).eventsSec
      .select(timestamp_seconds(col("sec")).as("ts"), col("event_type"), col("value")))
    s.toMemory(EventStreams.windowedCounts(s.stream), "complete")
      .select(col("bucket_start").cast("long").as("bucket_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("bucket_start"), col("event_type"))
  }

  /** G2 gate: streaming exact dedup on (user_id, event_type), MULTI-batch
    * — per-key state carries across micro-batches, later duplicates are
    * dropped; the watermark delay exceeds the corpus span so no state
    * evicts and no row is late (the exact-dedup configuration;
    * bounded-state eviction is the StreamingSpec's subject). The emitted
    * key set is then rolled up to a deterministic per-type report. */
  def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    val s = stage(spark, "dedup", Tables(spark, dir).eventsSec
      .select(timestamp_seconds(col("sec")).as("ts"), col("user_id"), col("event_type")), 4)
    s.toMemory(EventStreams.dedupStream(s.stream, Seq("user_id", "event_type"), "3650 days"),
        "append")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("user_id")).cast("long").as("user_checksum"))
      .orderBy(col("event_type"))
  }

  /** G3 gate: stateful sessionization (flatMapGroupsWithState) run
    * availableNow — append mode emits each CLOSED session once; the last
    * session of every user stays open in the state store by design, so
    * the oracle is E12's session rollup MINUS each user's final session. */
  def streamSessionize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val s = stage(spark, "sessionize", Tables(spark, dir).eventsSec
      .select(col("user_id"), col("sec"), col("value")))
    s.toMemory(EventStreams.sessionizeStream(s.stream.as[SessionEvent]).toDF(), "append")
      .select(col("user_id"), col("n_events"), col("start_sec"), col("end_sec"),
        round(col("session_value"), 2).as("session_value"))
      .orderBy(col("user_id"), col("start_sec"))
  }

  /** G15 gate: the streaming paragraph-dedup ledger over the wired corpus
    * in one batch — the in-order case where the ledger's keep-first
    * equals F49's min-occurrence rule exactly; the report parquet the
    * stream emits IS the gated frame. */
  def streamParagraphDedup(spark: SparkSession, dir: String): DataFrame = {
    val s = stage(spark, "paragraph", graft.operators.Dedup.paragraphWire(
      Tables(spark, dir).documents.select(col("doc_id"), col("text"))))
    s.drain()(EventStreams.paragraphDedupStream(s.stream, s.state))
    s.report.orderBy(col("doc_id"))
  }

  /** G19 gate: the streaming Markov state store in one batch — the
    * in-order case where stored-last boundary pairs equal the batch
    * window pass; the cumulative report equals E35 and shares its oracle. */
  def streamMarkov(spark: SparkSession, dir: String): DataFrame = {
    val s = stage(spark, "markov", Tables(spark, dir).eventsSec
      .select(col("user_id"), col("sec"), col("event_id"), col("event_type")))
    s.drain()(EventStreams.markovStream(s.stream, s.state))
    s.report.orderBy(col("state"), col("next_state"))
  }

  /** G29 gate: streaming top paths in one batch (the G19 arrival-order
    * contract); the final cumulative report equals E59's batch pass and
    * shares its oracle verbatim. */
  def streamTopPaths(spark: SparkSession, dir: String): DataFrame = {
    val s = stage(spark, "top_paths", Tables(spark, dir).eventsSec
      .select(col("user_id"), col("event_id"), col("sec"), col("event_type")))
    s.drain()(EventStreams.topPathsStream(s.stream, s.state))
    s.report.orderBy(col("rank"))
  }

  /** G16 gate: the SAME `checkConstraintsOf` plan on a streaming lineitem
    * source in complete mode, MULTI-batch: the conditional partials
    * (violation counts, min offending key) merge associatively across
    * triggers, so the final report equals D35's batch pass and shares
    * its oracle verbatim. */
  def streamConstraints(spark: SparkSession, dir: String): DataFrame = {
    val s = stage(spark, "constraints", Tables(spark, dir).lineitem, 4)
    s.toMemory(EventStreams.constraintMonitorStream(s.stream), "complete")
      .orderBy(col("constraint_name"))
  }

  /** G14 gate: continuous changelog apply, MULTI-batch — the latest-wins
    * reduction is associative-commutative over unique seqs (ChangelogSpec
    * proves the algebra), so the fold of the D34 synthetic history
    * converges to the batch snapshot wherever the batch boundaries land;
    * the final state rolled up by final-event class shares D34's oracle. */
  def streamChangelog(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val s = stage(spark, "changelog", LoadOps.ordersChangelog(spark, dir), 4)
    s.drain()(EventStreams.changelogStream(s.stream.as[ChangeEvent], s.state))
    spark.read.parquet(s.state)
      .groupBy(col("op").as("final_op"))
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("op") =!= "D", 1).otherwise(0)).cast("long").as("n_live"),
        round(sum(when(col("op") =!= "D", col("value"))), 2).as("value_sum"),
        sum(when(col("op") =!= "D", col("key")).otherwise(0L)).cast("long").as("key_checksum"))
      .orderBy(col("final_op"))
  }

  /** G13 gate: the streaming circuit breaker in one availableNow batch
    * over the D33 attempt log (the automaton is order-dependent; one
    * batch is the in-order case, and the per-batch sort key (sec,
    * attempt_id) is total) — the decisions roll up through the batch
    * replay's aggregation and share D33's oracle verbatim. */
  def streamBreaker(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val s = stage(spark, "breaker", Tables(spark, dir).eventsSec
      .withColumn("failed", (col("sec") % 604800L < 86400L).cast("int"))
      .select(col("event_type").as("source"), col("sec"),
        col("event_id").as("attempt_id"), col("failed")))
    def n(d: String, as: String): Column =
      sum(when(col("decision") === d, 1).otherwise(0)).cast("long").as(as)
    s.toMemory(EventStreams.circuitBreakerStream(s.stream.as[Attempt], threshold = 5,
        cooldownSec = 14400L).toDF(), "append")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_attempts"), n("ok", "n_ok"), n("fail", "n_fail_closed"),
        n("tripped", "n_tripped"), n("skipped", "n_skipped"),
        n("trial_fail", "n_trial_fail"), n("trial_ok", "n_trial_ok"),
        min(when(col("decision") === "tripped", col("sec"))).as("first_trip_sec"),
        max(when(col("decision").isin("tripped", "trial_fail"), col("sec"))).as("last_trip_sec"))
      .orderBy(col("source"))
  }

  /** G17 gate: the streaming novelty ledger in one batch over the corpus
    * (the in-order case where the batch-first carrier equals F60's global
    * min-owner rule); the per-doc reports share F60's oracle verbatim. */
  def streamNovelty(spark: SparkSession, dir: String): DataFrame = {
    val s = stage(spark, "novelty",
      Tables(spark, dir).documents.select(col("doc_id"), col("text")))
    s.drain()(EventStreams.noveltyStream(s.stream, s.state))
    s.report.orderBy(col("doc_id"))
  }

  /** G11 gate: stream-static enrichment, MULTI-batch — each trigger of the
    * fact stream broadcast-joins the static source catalog (stateless, so
    * any batch split emits the same rows); the enriched facts roll up per
    * catalog source and hash-match a plain SQL join oracle. */
  def streamEnrich(spark: SparkSession, dir: String): DataFrame = {
    val s = stage(spark, "enrich", Tables(spark, dir).events
      .select((col("user_id") % 25).as("source_key"), col("event_type"), col("value")), 4)
    val dim = Tables(spark, dir).nation
      .select(col("n_nationkey").cast("long").as("source_key"), col("n_name"))
    s.toMemory(EventStreams.enrichStream(s.stream, dim, "source_key"), "append")
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("value_sum"))
      .orderBy(col("n_name"))
  }

  /** G4 gate: a REAL stream-stream interval-overlap join — both sides
    * arrive as independent multi-batch file streams, every interval
    * explodes to its grid cells exactly as the batch E28 plan does, and
    * the streaming inner join meets on the cell equi key with the overlap
    * predicate and canonical-cell dedup as residuals. Pairs whose sides
    * arrived in DIFFERENT micro-batches match through the join state, so
    * the run's output is exactly the batch result and shares E28's
    * oracle. (No watermark: inner-join state is bounded by the finite
    * run; the G12 spec pins the eviction machinery.) */
  def streamJoin(spark: SparkSession, dir: String): DataFrame = {
    val incidentSec = 600L; val purchaseSec = 120L
    val cellSec = math.max(incidentSec, purchaseSec)
    val ev = Tables(spark, dir).eventsSec
    val s = stage(spark, "ssjoin", ev.filter(col("event_type") === "error")
      .select(col("event_id").as("inc_id"), col("sec").as("s1")), 2)
    val purchases = s.input("inB", ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pur_id"), col("sec").as("s2")), 2)
    def cells(lo: Column, hi: Column) =
      explode(sequence(floor(lo / cellSec).cast("long"), floor(hi / cellSec).cast("long")))
    val inc = s.stream
      .withColumn("e1", col("s1") + incidentSec)
      .withColumn("cell", cells(col("s1"), col("e1")))
    val pur = purchases
      .withColumn("e2", col("s2") + purchaseSec)
      .withColumn("cell", cells(col("s2"), col("e2")))
    s.toParquet(inc.join(pur, Seq("cell"))
        .filter(col("s1") <= col("e2") && col("s2") <= col("e1"))
        .filter(col("cell") === floor(greatest(col("s1"), col("s2")) / cellSec).cast("long"))
        .select(col("inc_id"), col("pur_id"),
          greatest(col("s1"), col("s2")).as("ov_start"),
          least(col("e1"), col("e2")).as("ov_end"))
        .withColumn("ov_sec", col("ov_end") - col("ov_start")))
      .orderBy(col("inc_id"), col("pur_id"))
  }

  /** G9 gate: streaming absence detection over a PLANTED-QUIET wire — two
    * sources go silent at 60% of the corpus timeline (a deterministic
    * integer cutoff both engines replay), the rest stay active to the
    * end. One data batch folds every event into per-source freshness
    * state; the closing no-data batch of the default trigger advances the
    * event-time watermark to the corpus maximum and fires the
    * EventTimeTimeout alerts: exactly the silenced sources emit, each with
    * its true last-seen second (alert iff last_seen + staleAfter <
    * watermark, the strict inequality the oracle replays). */
  def streamStaleness(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir).eventsSec
    val r = ev.agg(min(col("sec")).as("mn"), max(col("sec")).as("mx")).head()
    val cutoff = r.getLong(0) + (r.getLong(1) - r.getLong(0)) * 6L / 10L
    val s = stage(spark, "staleness",
      ev.filter(!(col("event_type").isin("error", "purchase") && col("sec") > cutoff))
        .select(timestamp_seconds(col("sec")).as("ts"), col("event_type").as("source")))
    s.toMemory(EventStreams.stalenessStream(s.stream.as[SourceEvent], 600L).toDF(),
        "append", availableNow = false)
      .select(col("source"), col("last_seen_sec"))
      .orderBy(col("source"))
  }

  /** G12 gate: stream-stream LEFT OUTER interval join (errors ⟕ purchases
    * within ±300 s) with the production FLUSH-SENTINEL device: one
    * far-future heartbeat row per side (id −1, corpus max + a day)
    * advances BOTH watermarks past every real row's close time, so the
    * engine evicts-and-emits the null row for every unmatched real error
    * before the stream ends — the outer join's final frame becomes
    * deterministic (sentinels match only each other and are filtered out).
    * The report aggregates the sink per error: match count + flag, oracled
    * by a plain batch LEFT JOIN. */
  def streamOuterJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).eventsSec
    val mx = ev.agg(max(col("sec"))).head().getLong(0)
    def side(tpe: String, id: String, s: String): DataFrame =
      ev.filter(col("event_type") === tpe)
        .select(col("event_id").as(id), col("sec").as(s))
        .unionByName(spark.range(1).select(lit(-1L).as(id), lit(mx + 86400L).as(s)))
    def watermarked(df: DataFrame, id: String, s: String): DataFrame =
      df.select(col(id), col(s), timestamp_seconds(col(s)).as(s"${s}_ts"))
        .withWatermark(s"${s}_ts", "0 seconds")
    val g = stage(spark, "outerjoin", side("error", "inc_id", "s1"))
    val purchases = g.input("in_purchase", side("purchase", "pur_id", "s2"), 1)
    // the G4 cell device gives the join its required EQUALITY key; the
    // purchase side has exactly ONE cell (its own), so every (inc, pur)
    // pair meets in exactly one exploded error cell — no pair dedup —
    // and an error cell with no purchases contributes one null row the
    // count() then ignores
    val inc = watermarked(g.stream, "inc_id", "s1").withColumn("cell",
      explode(sequence(expr("(s1 - 300) div 300"), expr("(s1 + 300) div 300"))))
    val pur = watermarked(purchases, "pur_id", "s2").withColumn("cell", expr("s2 div 300"))
    g.toParquet(inc.alias("inc").join(pur.alias("pur"),
        expr("inc.cell = pur.cell AND " +
          "s2_ts >= s1_ts - interval 300 seconds AND " +
          "s2_ts <= s1_ts + interval 300 seconds"), "leftOuter")
        .select(col("inc_id"), col("pur_id")))
      .filter(col("inc_id") >= 0L)
      .groupBy(col("inc_id"))
      .agg(count(col("pur_id")).cast("long").as("n_matched"))
      .withColumn("has_match", (col("n_matched") > 0L).cast("int"))
      .orderBy(col("inc_id"))
  }

  /** G5 gate: the count–min sketch as a STREAMING aggregate, MULTI-batch
    * in complete mode — counter addition is associative and
    * order-independent, so the final sketch (and every probe) equals
    * E19's one-shot batch sketch bit-for-bit and shares its oracle. The
    * probe walk is the SAME [[Relational.cmsProbeFrame]] the batch op
    * uses. */
  def streamCms(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.CmsAggregate
    val s = stage(spark, "cms", Tables(spark, dir).events
      .select(col("event_type").as("source"), col("user_id")), 4)
    Relational.cmsProbeFrame(s.toMemory(s.stream.groupBy(col("source"))
      .agg(CmsAggregate.cmsSketch(spark, col("user_id")).as("sketch")), "complete"))
  }

  /** G7 gate: the HLL distinct sketch as a STREAMING aggregate,
    * MULTI-batch complete mode — register merge is element-wise max
    * (idempotent AND order-independent), so the final estimate equals
    * E20's batch sketch exactly; the gated frame is the shared
    * [[Relational.hllVerdictFrame]] verdict, with the exact side from one
    * batch pass over the SAME input files the stream consumed. */
  def streamHll(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.HllAggregate
    val s = stage(spark, "hll", Tables(spark, dir).events
      .select(col("event_type").as("source"), col("user_id")), 4)
    val est = s.toMemory(s.stream.groupBy(col("source"))
      .agg(HllAggregate.hllSketch(spark, col("user_id")).as("est_distinct_users")), "complete")
    val exact = s.batch
      .groupBy(col("source"))
      .agg(countDistinct(col("user_id")).as("exact_distinct_users"))
    Relational.hllVerdictFrame(est.join(exact, Seq("source")))
  }

  /** G6 gate: the fixed-bin quantile sketch as a STREAMING aggregate,
    * MULTI-batch complete mode — histogram-counter addition is
    * associative and order-independent, so the final sketch equals E25's
    * batch sketch bit-for-bit; the estimate walk is the shared
    * [[Relational.quantileWalk]]. The (lo, hi) domain pins from one tiny
    * batch min/max over the staged input before the stream starts, as
    * the batch op derives it. */
  def streamQuantile(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.QuantileAggregate
    val s = stage(spark, "quantile", Tables(spark, dir).lineitem
      .select(col("l_returnflag"), col("l_extendedprice")), 4)
    val row = s.batch
      .agg(min(col("l_extendedprice")), max(col("l_extendedprice"))).head()
    val (lo, hi) = (row.getDouble(0), row.getDouble(1))
    Relational.quantileWalk(s.toMemory(s.stream.groupBy(col("l_returnflag"))
      .agg(QuantileAggregate.quantileSketch(spark, col("l_extendedprice"), lo, hi)
        .as("sketch")), "complete"), lo, hi)
  }

  /** G8 gate: the Bloom filter as a STREAMING aggregate — the dim-side key
    * set streams in MULTI-batch complete mode (bitset OR is associative,
    * idempotent and order-independent, so the final bitset equals E23's
    * batch build exactly); the finished filter then prunes the batch fact
    * side and the report is E23's join rollup, sharing its oracle. */
  def streamBloom(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.BloomAggregate
    val t = Tables(spark, dir)
    val s = stage(spark, "bloom", t.customer.filter(col("c_acctbal") > 9000.0)
      .select(col("c_custkey"), col("c_mktsegment")), 4)
    val dim = s.batch
    val nKeys = dim.count()
    val bits = s.toMemory(
      s.stream.agg(BloomAggregate.bloomAgg(spark, col("c_custkey"), nKeys).as("bits")),
      "complete")
    t.orders
      .join(broadcast(bits))
      .filter(BloomAggregate.mightContain(col("bits"), col("o_custkey")))
      .join(broadcast(dim), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
      .orderBy(col("c_mktsegment"))
  }
}
