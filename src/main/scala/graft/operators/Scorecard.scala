package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** G32 `mon_stream_scorecard`: the STREAM-GATE SCOREBOARD — every
  * streaming gate's pinned reports folded into ONE digest frame, one row
  * per gate: (gate, n_rows, sum_hash, xor_hash). A stream regression
  * today is one diff per gate; this makes it one frame a
  * monitoring dashboard (or the next round's diff) reads at a glance —
  * the r12/r13 verdicts' requested consolidation.
  *
  * WHAT is digested: the frame each gate's COMPLETED stream must emit.
  * Every G gate is pinned (gate + spec) to equal a deterministic batch
  * computation over the same corpus — most share a batch
  * operator's oracle verbatim, the others have a batch-shaped replay
  * their own oracle spells out. The scoreboard computes those batch
  * forms directly (the streaming machinery itself stays covered by the
  * individual gates — re-running every real streaming query per
  * evaluation would add ~100 s of pure query-startup protocol cost for
  * zero additional signal). In a live deployment the same digest runs
  * over the streams' report dirs; report-dir mtime supplies freshness
  * there — deliberately absent here because wall-clock is not
  * oracle-able.
  *
  * Determinism contract: the row fingerprint is the D24 convention — md5
  * over a canonical `|`-joined projection, first 8 hex digits as int64,
  * folded with (count, sum, xor), all commutative so row order never
  * matters. Doubles (all 2-/4-dec rounded by their ops, bitwise equal
  * across engines by each gate's own hash gate) enter as
  * round(x·10⁴) integers — float FORMATTING is engine-specific and
  * never enters a fingerprint; strings/integers as their canonical
  * decimal/UTF-8 text; booleans as 0/1; NULL as ''. The per-gate column
  * specs below are the single source of truth: the Spark digest and the
  * DuckDB oracle generator (SparkEntry.digestSql) both read THIS list,
  * so the two sides cannot drift.
  *
  * Scale shape: per-gate independent (agg → 1 row) digest jobs — each
  * is its operator's own scale-argued plan plus one commutative hash
  * fold (map-side combinable); the scoreboard adds no join and no new
  * shuffle, and the driver holds exactly one 4-field row per gate
  * (constant-size). The shared corpus collapses (daily fold, midrank
  * cells, PSI cells, Holt trajectory) materialize once and feed 11 of
  * the branches. */
object Scorecard {

  /** Canonical digest projection per gate — name and type tag in fixed
    * order. Tags: 'l' integer-like, 'd' rounded double (fingerprinted as
    * round(x*10000)), 'b' boolean, 's' string. */
  val gateCols: Seq[(String, Seq[(String, Char)])] = Seq(
    "stream_abtest" -> Seq("event_type" -> 's', "n_a" -> 'l', "n_b" -> 'l',
      "mean_a" -> 'd', "mean_b" -> 'd', "var_a" -> 'd', "var_b" -> 'd',
      "t_stat" -> 'd', "significant" -> 'l'),
    "stream_benford" -> Seq("source" -> 's', "digit" -> 'l', "n" -> 'l',
      "n_d" -> 'l', "obs_ppm" -> 'l', "exp_ppm" -> 'l',
      "benford_stat" -> 'l', "flagged" -> 'l'),
    "stream_bloom" -> Seq("c_mktsegment" -> 's', "n_orders" -> 'l',
      "revenue" -> 'd'),
    "stream_breaker" -> Seq("source" -> 's', "n_attempts" -> 'l',
      "n_ok" -> 'l', "n_fail_closed" -> 'l', "n_tripped" -> 'l',
      "n_skipped" -> 'l', "n_trial_fail" -> 'l', "n_trial_ok" -> 'l',
      "first_trip_sec" -> 'l', "last_trip_sec" -> 'l'),
    "stream_changelog" -> Seq("final_op" -> 's', "n_keys" -> 'l',
      "n_live" -> 'l', "value_sum" -> 'd', "key_checksum" -> 'l'),
    "stream_changepoint" -> Seq("source" -> 's', "n_days" -> 'l',
      "cp_day" -> 'l', "t_stat" -> 'd', "changed" -> 'l'),
    "stream_chi2" -> Seq("event_type" -> 's', "n_ref" -> 'l', "n_cur" -> 'l',
      "df" -> 'l', "chi2" -> 'd', "critical" -> 'd', "drifted" -> 'l'),
    "stream_cms" -> Seq("source" -> 's', "key" -> 'l', "est" -> 'l'),
    "stream_constraints" -> Seq("constraint_name" -> 's', "n_rows" -> 'l',
      "n_viol" -> 'l', "viol_ppm" -> 'l', "first_bad_key" -> 'l'),
    "stream_cramers" -> Seq("col_a" -> 's', "col_b" -> 's', "n_rows" -> 'l',
      "r_cats" -> 'l', "c_cats" -> 'l', "chi2" -> 'd', "cramers_v" -> 'd'),
    "stream_cusum" -> Seq("source" -> 's', "day" -> 'l', "md" -> 'l',
      "mu" -> 'l', "s_hi" -> 'l', "s_lo" -> 'l', "alarm" -> 'l'),
    "stream_decay" -> Seq("source" -> 's', "day" -> 'l',
      "n_in_window" -> 'l', "duration" -> 'd', "smoothed" -> 'd',
      "anomaly_ratio" -> 'd'),
    "stream_dedup" -> Seq("event_type" -> 's', "n_users" -> 'l',
      "user_checksum" -> 'l'),
    "stream_drift" -> Seq("label" -> 'l', "n_ref" -> 'l', "n_cur" -> 'l',
      "centroid_cos" -> 'd', "drifted" -> 'b'),
    "stream_enrich" -> Seq("n_name" -> 's', "n_events" -> 'l',
      "value_sum" -> 'd'),
    "stream_hampel" -> Seq("source" -> 's', "day" -> 'l', "md" -> 'l',
      "n_win" -> 'l', "med" -> 'l', "mad" -> 'l', "deviation" -> 'l',
      "alarm" -> 'l'),
    "stream_heavy_hitters" -> Seq("user_id" -> 'l', "n" -> 'l'),
    "stream_hll" -> Seq("source" -> 's', "exact_distinct_users" -> 'l',
      "within_bound" -> 'l'),
    "stream_holt" -> Seq("source" -> 's', "day" -> 'l', "md" -> 'l',
      "level" -> 'l', "trend" -> 'l', "forecast" -> 'l', "resid" -> 'l',
      "alert" -> 'l'),
    "stream_join" -> Seq("inc_id" -> 'l', "pur_id" -> 'l',
      "ov_start" -> 'l', "ov_end" -> 'l', "ov_sec" -> 'l'),
    "stream_markov" -> Seq("state" -> 's', "next_state" -> 's', "n" -> 'l',
      "state_total" -> 'l', "p_ppm" -> 'l'),
    "stream_novelty" -> Seq("doc_id" -> 'l', "n_distinct" -> 'l',
      "n_novel" -> 'l', "novelty_ppm" -> 'l'),
    "stream_outer_join" -> Seq("inc_id" -> 'l', "n_matched" -> 'l',
      "has_match" -> 'l'),
    "stream_page_hinkley" -> Seq("source" -> 's', "day" -> 'l', "md" -> 'l',
      "mean_micro" -> 'l', "ph_micro" -> 'l', "min_ph_micro" -> 'l',
      "alarm" -> 'l'),
    "stream_psi" -> Seq("source" -> 's', "n_base" -> 'l', "n_cur" -> 'l',
      "psi" -> 'd', "alert" -> 'l'),
    "stream_srm" -> Seq("event_type" -> 's', "n_a" -> 'l', "n_b" -> 'l',
      "chi2_x10000" -> 'l', "mismatch" -> 'l'),
    "stream_forecast_eval" -> Seq("source" -> 's', "n_eval" -> 'l',
      "mae_cents" -> 'l', "bias_sum_cents" -> 'l', "mape_ppm" -> 'l',
      "mae_naive_cents" -> 'l', "mase_x10000" -> 'l', "skillful" -> 'l'),
    "stream_calibration" -> Seq("source" -> 's', "bin" -> 'l',
      "n_bin" -> 'l', "n_pos" -> 'l', "mean_p_micro" -> 'l',
      "frac_pos_micro" -> 'l', "gap_micro" -> 'l'),
    "stream_auc" -> Seq("source" -> 's', "n_pos" -> 'l', "n_neg" -> 'l',
      "auc" -> 'd', "separates" -> 'l'),
    "stream_mann_kendall" -> Seq("source" -> 's', "n_days" -> 'l',
      "s_stat" -> 'l', "var18" -> 'l', "z" -> 'd', "trend" -> 'l',
      "significant" -> 'l'),
    "stream_paragraph_dedup" -> Seq("doc_id" -> 'l', "n_chunks" -> 'l',
      "n_kept" -> 'l', "kept_checksum" -> 'l'),
    "stream_quantile" -> Seq("l_returnflag" -> 's', "q" -> 'd',
      "est" -> 'd'),
    "stream_seasonal" -> Seq("source" -> 's', "day" -> 'l', "dow" -> 'l',
      "md_cents" -> 'l', "expected_cents" -> 'l', "dev_cents" -> 'l',
      "status" -> 's'),
    "stream_sessionize" -> Seq("user_id" -> 'l', "n_events" -> 'l',
      "start_sec" -> 'l', "end_sec" -> 'l', "session_value" -> 'd'),
    "stream_staleness" -> Seq("source" -> 's', "last_seen_sec" -> 'l'),
    "stream_top_paths" -> Seq("rank" -> 'l', "path" -> 's',
      "n_occurrences" -> 'l', "share_ppm" -> 'l'),
    "stream_window_agg" -> Seq("bucket_start" -> 'l', "event_type" -> 's',
      "n" -> 'l', "sum_value" -> 'd'),
    "stream_winsorized" -> Seq("l_returnflag" -> 's', "n_rows" -> 'l',
      "lo_cents" -> 'l', "hi_cents" -> 'l', "mean_cents" -> 'l',
      "winsor_mean_cents" -> 'l', "trim_mean_cents" -> 'l',
      "n_trimmed" -> 'l'))

  /** Canonical text image of one column for the row fingerprint (the
    * Spark half; SparkEntry.digestSql is the SQL half — keep in sync). */
  private def image(c: Column, tag: Char): Column = tag match {
    case 'd' => round(c * 10000).cast("long").cast("string")
    case 'b' => c.cast("int").cast("string")
    case 's' => c
    case _   => c.cast("string")
  }

  /** One digest row for one gate: the D24 (count, sum, xor) fold over
    * md5 row fingerprints of the canonical projection. */
  private[graft] def digestOf(gate: String, df: DataFrame,
      cols: Seq[(String, Char)]): DataFrame =
    df.select(conv(substring(md5(concat_ws("|",
        cols.map { case (n, t) => coalesce(image(col(n), t), lit("")) }: _*)),
        1, 8), 16, 10).cast("long").as("h"))
      .agg(count(lit(1)).cast("long").as("n_rows"),
        coalesce(sum(col("h")), lit(0L)).cast("long").as("sum_hash"),
        coalesce(expr("bit_xor(h)"), lit(0L)).cast("long").as("xor_hash"))
      .select(lit(gate).as("gate"), col("n_rows"), col("sum_hash"),
        col("xor_hash"))

  /** The frame each gate's completed stream is pinned to emit, computed
    * through the shared batch cores (see the object scaladoc); the gates
    * without a one-call batch operator replay their own oracle's batch
    * rule inline. One THUNK per gate: several member constructors run
    * eager driver-side phases by design (the bloom build, the staleness
    * watermark head() reads, the breaker/changelog fold setup), and
    * built inline those serialized into a ~7.5 s prefix before any
    * digest ran — the scoreboard therefore
    * materializes the thunks CONCURRENTLY (construction is independent
    * per gate; concurrent actions on one SparkSession are supported). */
  private def frames(spark: SparkSession, dir: String): Seq[(String, () => DataFrame)] = {
    val t = Tables(spark, dir)
    val ev = t.eventsSec

    // Shared corpus collapses (r15): the (source, day) daily fold, the
    // (source, cents) midrank support cells, the (source, day, cents)
    // PSI cells and the Holt trajectory feed 11 of the branches.
    // Materialized ONCE — the three independent collapses in parallel,
    // the Holt trajectory (which folds the daily cells) after its
    // input — so the per-gate digest jobs read run-log-/support-sized
    // cached cells instead of re-scanning the corpus per job (separate
    // jobs share no exchange, so nothing else prevents the recompute).
    val Seq(daily, posCells, psiCells) = parMaterialize(spark, Seq(
      () => LoadOps.dailyMd(spark, dir),
      () => ev.select(col("event_type").as("source"),
          expr("cast(round(value * 100) as long)").as("cents"),
          expr("cast(((sec div 86400) + 4) % 7 in (0, 6) as long)").as("pos"))
        .groupBy(col("source"), col("cents"))
        .agg(sum(col("pos")).cast("long").as("np"),
          count(lit(1)).cast("long").as("cnt")),
      () => ev.select(col("event_type").as("source"),
          expr("sec div 86400").cast("long").as("day"),
          expr("cast(round(value * 100) as long)").as("cents"))
        .groupBy(col("source"), col("day"), col("cents"))
        .agg(count(lit(1)).cast("long").as("cnt"))))
    val holtTraj = LoadOps.holtOver(daily, LoadOps.HoltAlphaPpm, LoadOps.HoltBetaPpm, LoadOps.HoltHCents, LoadOps.HoltWarmup)
      .localCheckpoint(true)

    // G2 exact dedup rollup: distinct (user, type) pairs
    val dedup = ev.select(col("user_id"), col("event_type")).distinct()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("user_id")).cast("long").as("user_checksum"))

    // G3 sessionize: E12 session rollup minus each user's final session
    // (append mode cannot close the last session)
    val w = Window.partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    val sess0 = ev.select(col("user_id"), col("event_id"), col("sec"), col("value"))
      .withColumn("brk", when(lag(col("sec"), 1).over(w).isNull ||
        col("sec") - lag(col("sec"), 1).over(w) > 1800L, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("brk"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("sec")).cast("long").as("start_sec"),
        max(col("sec")).cast("long").as("end_sec"),
        round(sum(col("value")), 2).as("session_value"))
    // r18: the "drop each user's final session" rule as a window over
    // the SAME user_id partitioning the session fold already pays for —
    // the old self-join re-aggregated sess0 and sort-merge-joined it
    // back (a second corpus window + join); max(session_id) over the
    // user partition selects the identical rows.
    val sess = sess0
      .withColumn("last_sid",
        max(col("session_id")).over(Window.partitionBy(col("user_id"))))
      .filter(col("session_id") < col("last_sid"))
      .select(col("user_id"), col("n_events"), col("start_sec"),
        col("end_sec"), col("session_value"))

    // G30 Cramér cells over the streamed pair
    val cramers = Relational.cramersFromCells(
      t.lineitem.select(col("l_returnflag").as("a"), col("l_linestatus").as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).cast("long").as("o")),
      "l_returnflag", "l_linestatus")

    // G11 enrichment rollup: broadcast dim join per catalog source
    val enrich = t.events
      .select((col("user_id") % 25).as("source_key"), col("value"))
      .join(broadcast(t.nation.select(col("n_nationkey").cast("long")
        .as("source_key"), col("n_name"))), Seq("source_key"), "left")
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("value_sum"))

    // G12 outer join: the one-shot LEFT band join the stream's eviction
    // bookkeeping must reproduce — bucketed on 300 s cells (E21 shape)
    val errs = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("inc_id"), col("sec").as("s1"))
    val matches = errs
      .withColumn("cell", explode(array(expr("s1 div 300 - 1"),
        expr("s1 div 300"), expr("s1 div 300 + 1"))))
      .join(ev.filter(col("event_type") === "purchase")
        .select(col("sec").as("s2"), expr("sec div 300").as("cell")), Seq("cell"))
      .filter(col("s2") >= col("s1") - 300L && col("s2") <= col("s1") + 300L)
      .groupBy(col("inc_id")).agg(count(lit(1)).cast("long").as("n_matched"))
    val outer = errs.select(col("inc_id"))
      .join(matches, Seq("inc_id"), "left")
      .select(col("inc_id"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        (coalesce(col("n_matched"), lit(0L)) > 0L).cast("int").as("has_match"))

    // G9 staleness: the planted-quiet wire's batch replay (silence two
    // sources at the 60% cutoff; alert iff last_seen + 600 < watermark).
    // r15: the eager corpus-sized localCheckpoint of the silenced feed
    // was a major slice of the scoreboard's wall (profiled) — replaced
    // by two corpus-collapsing aggs whose RESULTS are sources-sized: the
    // global range folds from per-source ranges, the watermark from the
    // per-source last-seen frame, both numerically identical; the eager
    // head() reads live inside this gate's thunk
    def stale = {
      val srcRange = ev.groupBy(col("event_type").as("source"))
        .agg(min(col("sec")).as("mn"), max(col("sec")).as("mx"))
        .localCheckpoint(true)
      val rng = srcRange.agg(min(col("mn")), max(col("mx"))).head()
      val cutoff = rng.getLong(0) + (rng.getLong(1) - rng.getLong(0)) * 6L / 10L
      val lastSeen = ev.select(col("event_type").as("source"), col("sec"))
        .filter(!(col("source").isin("error", "purchase") && col("sec") > cutoff))
        .groupBy(col("source"))
        .agg(max(col("sec")).cast("long").as("last_seen_sec"))
        .localCheckpoint(true)
      val wm = lastSeen.agg(max(col("last_seen_sec"))).head().getLong(0)
      lastSeen.filter(col("last_seen_sec") + 600L < wm)
    }

    Seq(
      "stream_window_agg" -> (() => Relational.qTimeBucket(spark, dir)),
      "stream_markov" -> (() => Relational.qMarkovTransitions(spark, dir)),
      "stream_cusum" -> (() => LoadOps.cusumOver(daily, LoadOps.CusumKCents, LoadOps.CusumHCents)),
      "stream_page_hinkley" -> (() => LoadOps.pageHinkleyOver(daily, LoadOps.PhDeltaCents, LoadOps.PhLambdaCents)),
      "stream_psi" -> (() => LoadOps.psiCells(psiCells)),
      "stream_auc" -> (() => Relational.aucCells(posCells)),
      "stream_mann_kendall" -> (() => LoadOps.mannKendallOf(daily)),
      "stream_srm" -> (() => Relational.qSrm(spark, dir)),
      "stream_forecast_eval" -> (() => LoadOps.forecastEvalOver(holtTraj)),
      "stream_calibration" -> (() => LoadOps.calibrationCells(posCells)),
      "stream_constraints" -> (() => LoadOps.checkConstraints(spark, dir)),
      "stream_heavy_hitters" -> (() => Relational.qHeavyHitters(spark, dir)),
      "stream_benford" -> (() => LoadOps.benford(spark, dir)),
      "stream_holt" -> (() => holtTraj),
      "stream_seasonal" -> (() => LoadOps.seasonalOf(daily, LoadOps.SeasonalTrainDays, LoadOps.SeasonalHCents)),
      "stream_hampel" -> (() => LoadOps.hampelOver(daily, LoadOps.HampelWindow, LoadOps.HampelMinWin)),
      "stream_top_paths" -> (() => Relational.qTopPaths(spark, dir)),
      "stream_winsorized" -> (() => Relational.qWinsorized(spark, dir)),
      "stream_changelog" -> (() => LoadOps.changelogApply(spark, dir)),
      "stream_breaker" -> (() => LoadOps.circuitBreaker(spark, dir)),
      "stream_novelty" -> (() => TextAnalysis.textNovelty(spark, dir)),
      "stream_abtest" -> (() => Relational.qAbTtest(spark, dir)),
      "stream_drift" -> (() => Similarity.embeddingDrift(spark, dir)),
      "stream_decay" -> (() => LoadOps.decayAvg(spark, dir)),
      "stream_join" -> (() => Relational.qIntervalJoin(spark, dir)),
      "stream_chi2" -> (() => LoadOps.chi2Drift(spark, dir)),
      "stream_changepoint" -> (() => LoadOps.changepointOver(daily, LoadOps.ChangepointBar)),
      "stream_cms" -> (() => Relational.qCmsSketch(spark, dir)),
      "stream_hll" -> (() => Relational.qHllSketch(spark, dir)),
      "stream_quantile" -> (() => Relational.qQuantileSketch(spark, dir)),
      "stream_bloom" -> (() => Relational.qBloomPruneJoin(spark, dir)),
      "stream_dedup" -> (() => dedup),
      "stream_sessionize" -> (() => sess),
      "stream_paragraph_dedup" -> (() => Dedup.dedupParagraph(spark, dir)
        .select(col("doc_id"), col("n_chunks"), col("n_kept"), col("kept_checksum"))),
      "stream_cramers" -> (() => cramers),
      "stream_enrich" -> (() => enrich),
      "stream_outer_join" -> (() => outer),
      "stream_staleness" -> (() => stale))
  }

  /** Run independent Spark work concurrently on one session (the
    * documented multi-job pattern); used for the shared-collapse
    * materialization, the per-gate frame thunks, and the per-gate digest
    * collects. Body hoisted to [[ParJobs]] (r18) so the multi-branch
    * batch entries share the same job-group failure containment. A
    * scorecard that has not finished in [[ParTimeout]] is cancelled. */
  private def parRun[A](spark: SparkSession)(thunks: Seq[() => A]): Seq[A] =
    ParJobs.run(spark, "graft stream scorecard", timeout = ParTimeout)(thunks)

  private def parMaterialize(spark: SparkSession,
      mk: Seq[() => DataFrame]): Seq[DataFrame] =
    ParJobs.materialize(spark, "graft stream scorecard", mk, timeout = ParTimeout)

  private val ParTimeout = scala.concurrent.duration.Duration(30, "minutes")

  def streamScorecard(spark: SparkSession, dir: String): DataFrame = {
    val specs = gateCols.toMap
    // one thunk per gate on the pool builds the gate's frame and collects
    // its digest, so early gates digest while late gates still build: no
    // digest reads another gate's frame (the shared inputs are the
    // collapses frames() materializes up front)
    val rows = parRun(spark)(frames(spark, dir).map { case (g, mk) => () =>
      val r = digestOf(g, mk(), specs(g)).collect()(0)
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
    })
    spark.createDataFrame(rows)
      .toDF("gate", "n_rows", "sum_hash", "xor_hash")
      .orderBy(col("gate"))
  }
}
