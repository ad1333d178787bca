package graft
import org.apache.spark.sql.SparkSession

import scala.util.control.NonFatal

/** Headline benchmark. Prints the full JSON line to stdout, writes the
  * SAME json to BENCH_LOCAL.json, and prints a COMPACT summary JSON as
  * the LAST stdout line: the driver keeps only a ~2000-char stdout tail,
  * so the final line must be a complete object that fits the window for
  * the round artifact to carry a parseable payload at all (the full
  * ~13 KB line starts outside the tail since r1; the compact line holds
  * totals, repro summary, protocol, canaries and the slowest-10 map, and
  * points at BENCH_LOCAL.json for the full per-query map).
  *
  * Comparability protocol (r9): the r8 suite showed code-unchanged queries
  * drifting 2-6x round-over-round — session-level contention (GC debt,
  * code-cache growth, scheduler state) accumulated across a 173-entry
  * single-JVM run, which drowned exactly the ~2x regression signal the
  * perf gate exists to catch. The bench now runs a fixed protocol designed
  * so two consecutive full runs agree per-query:
  *   1. fixed query order (sorted by name) — identical JIT/codegen history
  *      on every run;
  *   2. one UNTIMED warmup rep per query — codegen compilation and file
  *      cache effects land outside the timer instead of inside rep 1;
  *   3. a GC quiesce (System.gc + short settle) before each query's timed
  *      reps — each query starts from a collected heap instead of
  *      inheriting the previous query's garbage debt;
  *   4. TWO consecutive full passes over the suite; the reported time is
  *      the min across all timed reps of both passes, and the JSON records
  *      the per-query pass1-vs-pass2 ratio distribution (`repro` block:
  *      median/p90/worst + the queries over 1.3x) so every BENCH file
  *      carries its own reproducibility evidence.
  *
  * Wall-clock fit (r13): the r12 driver bench timed out (BENCH_r12
  * `rc: 124`) because the suite grew 237→319 entries while the protocol
  * ran a blocking `System.gc` quiesce before EVERY timed rep — ~1,276
  * in-wall full-GC cycles on a 128 GiB heap. The r13 protocol keeps the
  * quiesce guarantee where it changes a verdict and drops it where it is
  * provably noise:
  *   - leaked persistent RDDs are still unpersisted before every query's
  *     timed section (cheap; this is what evicts orphaned
  *     localCheckpoint blocks from iterative ops);
  *   - the full GC + settle runs at most ONCE per query per pass, and
  *     only for queries whose best-known time is at/above the repro
  *     floor — a sub-floor query measures timer jitter by definition, so
  *     a collected-heap start cannot change its verdict;
  *   - sub-floor queries drop to 1 timed rep per pass (the cross-pass
  *     min-of-2 is preserved), and sub-floor READ-path queries skip the
  *     pass-2 warmup (codegen is already compiled from pass 1 in the
  *     same JVM; write-path entries keep their warmup because each rep
  *     sees a fresh scratch dir);
  *   - a wall-clock budget (`SPARK_GRAFT_BENCH_BUDGET_SEC`, default
  *     3300 s = 55 min, sized under the driver's ~60-min cap with sbt
  *     startup headroom) degrades the protocol gracefully instead of
  *     letting the driver kill the run: past 60% of budget every query
  *     drops to 1 rep; past 80% warmups and GC quiesces are skipped
  *     entirely. Every degradation is recorded in the JSON `protocol`
  *     block (first query affected per stage), so a degraded number is
  *     never mistaken for a full-protocol number.
  *   - scratch lives on tmpfs when available (`/dev/shm`): streaming
  *     gates rewrite per-trigger state parquet under the scratch root,
  *     and local-FS parquet churn is protocol cost, not engine cost.
  *     The `protocol.scratch` field records which medium was measured.
  *
  * r16 protocol iteration (the p90<=1.35 push + wander forensics):
  *   - arbitration rounds spend up to the REAL budget, worst
  *     disagreement first (r15 self-capped repeats at 60% of budget
  *     while the wall used 84%, leaving the >1.3x tail unarbitrated);
  *   - pass-2 warmups are skipped for ALL read-path entries (codegen and
  *     page cache are warm from pass 1 in the same JVM; write-path
  *     entries keep theirs because every rep sees fresh scratch) — this
  *     funds the extra arbitration inside the same budget;
  *   - every sample records the GC time spent inside the rep and the OS
  *     page-cache size before it; pinned entries (SPARK_GRAFT_BENCH_PIN,
  *     the cross-round wander suspects) and >1.3x disagreers ship that
  *     evidence in the JSON, so a suite-context anomaly arrives with its
  *     mechanism attached;
  *   - the compact line carries per-entry times as a centisecond array
  *     in suite order (qcs/qds), so the driver's 2000-char round
  *     artifact alone reconstructs every entry's time.
  *
  * r17 protocol iteration (zero degraded base passes + wider forensics):
  *   - BASE passes from pass 2 on override the fraction ladder with a
  *     projection: every entry has a pass-1 time, so the remaining pass
  *     work is ~2.2×knownMin + 0.3 s per entry; while wall + projected
  *     remaining fits in 92% of budget the full protocol holds (the r16
  *     ladder fired at 60% and degraded the tail of pass 2 —
  *     stage1@p2:src_xml_features — though the pass finished at 69%).
  *     The stage-3 hard stop is never overridden; arbitration passes
  *     keep the pure ladder (budget-greedy by design);
  *   - wander samples additionally record the rep's shuffle read/write
  *     and spill MB (task-metrics listener deltas) and the OS 1-min
  *     load×100 at rep start — the attribution candidates for the
  *     slow-sample-without-GC class (dedup_containment r16 p2_2);
  *   - the two always-timed index builds (ann_ivf_index, text_lm_index)
  *     carry the same evidence row in the wander block.
  *
  * Write-path isolation: every rep of every query runs with the engine's
  * conf-keyed scratch roots pointed at a FRESH per-rep directory (removed
  * after the rep, outside the timer), so a write-path query can never get
  * a flattering rep by overwriting its own previous output's directory
  * structure, and two bench runs see identical filesystem state. A query
  * is classified write-path if it wrote into its rep dir OR mutated one of
  * the fixed non-scratch roots (metastore warehouse, `graft.ivf.root`,
  * `graft.card.root`) — the roots are stamped (file count + max mtime)
  * around each rep, so a future op writing through any fixed path is
  * classified automatically instead of needing the old hand-maintained
  * list. The JSON reports `read_total` / `write_total` subtotals
  * separately because write timings carry FS jitter that would otherwise
  * drown the read-path signal. The persisted-index roots (`graft.ivf.root`,
  * `graft.card.root`) are deliberately NOT isolated: those layouts are
  * one-time indexing state, and serving benches must measure the
  * steady-state cached path.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // timed reps per pass; min-of-all over 2 passes. 2x2 + warmup matches
    // the old min-of-3 noise floor with reproducibility evidence on top.
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt)
    val passes = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // experiment hooks: SPARK_GRAFT_EXTRA_CONF="k=v,k=v" applies session
    // confs (e.g. graft.spread.documents=false), SPARK_GRAFT_ONLY="a,b"
    // restricts the suite — together they make one-flag A/B timings
    // (same protocol, same order) a single env change
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(',').filter(_.contains('='))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); spark.conf.set(k.trim, v.trim) })
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    // warm the JVM/codegen and the file-system cache so the first timed
    // query isn't charged for session startup
    try {
      spark.range(1000000L).selectExpr("sum(id)").collect()
      Seq("lineitem", "orders", "customer", "events", "documents", "embeddings")
        .foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").count())
    } catch { case NonFatal(_) => () }
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(): Unit
    }
    // per-rep scratch isolation (see scaladoc): all write-path conf roots
    // point into a fresh dir for every rep; rep dirs are torn down
    // OUTSIDE the timed region. The bench root itself routes through the
    // same conf-keyed scratch helper as every operator (env override for
    // the driver).
    // tmpfs only when it has real headroom: /dev/shm is RAM-backed
    // (typically RAM/2) and an ENOSPC mid-rep would fail queries the
    // disk default ran fine — 8 GiB usable covers the largest observed
    // per-rep working set at sf0.1 with an order of magnitude to spare
    val shm = new java.io.File("/dev/shm")
    val defaultScratch =
      if (shm.isDirectory && shm.canWrite &&
          shm.getUsableSpace >= 8L * 1024 * 1024 * 1024)
        "/dev/shm/graft_bench_scratch"
      else Tables.scratch(spark, "bench_scratch")
    val benchScratch = new java.io.File(sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_SCRATCH", defaultScratch)).getAbsolutePath
    val scratchMedium = if (benchScratch.startsWith("/dev/shm")) "tmpfs" else "disk"
    rm(new java.io.File(benchScratch))
    // ONE key moves every write-path root: the per-op override keys
    // (graft.snapshot/compact/evolve.root) all DEFAULT through
    // Tables.scratch, so a future write-path op is isolated (and
    // write-classified) automatically just by using the shared helper
    val scratchKeys = Seq("graft.scratch.root")
    // fixed non-scratch roots: writes through these are legitimate (the
    // metastore warehouse has no conf-per-rep redirect; the index roots
    // are deliberately persistent) but must still classify as write-path.
    // A (file count, max mtime) stamp over each tree is compared around
    // every rep — cheap (trees are bench-sized) and catches any future op
    // that writes through a fixed path without touching the scratch root.
    val fixedRoots: Seq[java.io.File] = Seq(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      spark.conf.get("graft.ivf.root", "/root/repo/target/graft_ivf"),
      spark.conf.get("graft.card.root", "/root/repo/target/graft_card")
    ).map(new java.io.File(_))
    def stamp1(f: java.io.File): (Long, Long) =
      if (!f.exists()) (0L, 0L)
      else if (f.isFile) (1L, f.lastModified())
      else f.listFiles().foldLeft((1L, f.lastModified())) { case ((n, m), c) =>
        val (cn, cm) = stamp1(c); (n + cn, math.max(m, cm))
      }
    def fixedStamp(): Seq[(Long, Long)] = fixedRoots.map(stamp1)
    // quiesce: collect the previous query's garbage OUTSIDE the timer so
    // timed reps don't inherit heap debt from earlier, unrelated queries.
    // The storage quiesce (r12) evicts leaked per-round localCheckpoint
    // blocks: iterative ops (pagerank, label prop, dbscan) checkpoint
    // every round, and the orphaned blocks accumulate in the block
    // manager across the suite — the executor-memory pressure they
    // leave behind was the prime suspect for the iterative family's
    // 12x worst pass-to-pass ratio in r11 (a completed query's
    // checkpoint RDDs are garbage by construction: every rep rebuilds
    // its own lineage, and the persisted index layouts live in parquet,
    // not the block manager, so eviction cannot slow a later query).
    var gcCount = 0
    def unpersistLeaks(): Unit =
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    def gcQuiesce(): Unit = { System.gc(); Thread.sleep(50L); gcCount += 1 }
    // wander instrumentation (r16): the r14/r15 rounds each produced ONE
    // entry that doubled on unchanged code in the full-suite context and
    // re-measured fine in isolation (dedup_containment r14, text_novelty
    // r15). Every sample now records the JVM GC time spent INSIDE the
    // rep and the OS page-cache size before it, so when the anomaly
    // recurs the round artifact carries the mechanism, not just the
    // symptom.
    import scala.jdk.CollectionConverters._
    def gcMsNow(): Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    def cachedMb(): Long = try {
      val src = scala.io.Source.fromFile("/proc/meminfo")
      try src.getLines().find(_.startsWith("Cached:"))
        .map(_.split("\\s+")(1).toLong / 1024L).getOrElse(-1L)
      finally src.close() // called per rep — an unclosed fd per sample would pile up
    } catch { case NonFatal(_) => -1L }
    // r17 wander forensics extension: the r16 GC/page-cache pair explained
    // most but not all slow samples (dedup_containment p2_2 12.27 s with
    // 10 ms GC fit no hypothesis), so every sample now also carries the
    // rep's shuffle read/write and spill byte deltas (a task-metrics
    // listener folds them into cumulative counters; the listener bus is
    // async, so a rep's last few task-end events can land in the next
    // sample's delta — evidence-grade, not accounting-grade) and the OS
    // 1-min load average ×100 at rep start (external CPU contention is
    // the standing hypothesis for slow-sample-without-GC: the bench
    // shares the box with the driver's own tooling).
    val taskAgg = new java.util.concurrent.atomic.AtomicLongArray(3)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          taskAgg.addAndGet(0, m.shuffleReadMetrics.totalBytesRead): Unit
          taskAgg.addAndGet(1, m.shuffleWriteMetrics.bytesWritten): Unit
          taskAgg.addAndGet(2, m.memoryBytesSpilled + m.diskBytesSpilled): Unit
        }
      }
    })
    def taskSnap(): (Long, Long, Long) =
      (taskAgg.get(0), taskAgg.get(1), taskAgg.get(2))
    def load100(): Long = try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try math.round(src.getLines().next().split("\\s+")(0).toDouble * 100)
      finally src.close()
    } catch { case NonFatal(_) => -1L }
    // per-sample evidence row: [label, sec, gc_ms inside the rep,
    // cached_mb before it, shuffle_read_mb, shuffle_write_mb, spill_mb,
    // load100 at start]; reported for pinned entries, >1.3x disagreers,
    // and the two always-timed index builds
    val evidence = scala.collection.mutable.Map
      .empty[String, scala.collection.mutable.ListBuffer[(String, Double, Seq[Long])]]
    def recordEvidence(name: String, label: String, sec: Double, gc0: Long,
        cached0: Long, snap0: (Long, Long, Long), ld: Long): Unit =
      evidence.getOrElseUpdate(name,
        scala.collection.mutable.ListBuffer.empty) += ((label, sec, {
        val s1 = taskSnap()
        Seq(gcMsNow() - gc0, cached0, (s1._1 - snap0._1) >> 20,
          (s1._2 - snap0._2) >> 20, (s1._3 - snap0._3) >> 20, ld)
      }))
    // the IVF inverted-list layout is a one-time INDEXING job (rebuilt
    // only when the corpus changes), not per-query serving cost — build
    // it BEFORE the query loop so ann_ivf / neardup_ivf_gated measure
    // serving against the persisted index, but time the build as its own
    // visible "ann_ivf_index" entry (forced fresh, so the number is the
    // real indexing job, not a stamp check). The index build is NOT
    // repeated: it is a cold-layout job by definition and re-timing it
    // against a warm FS cache would understate it. r17: the builds are
    // in the wander-evidence set — ann_ivf_index drifted +0.9 s r15→r16
    // on unchanged build code, so its one sample now carries the same
    // forensics row as the pinned entries.
    def timedBuild(name: String, build: () => Unit): Double = try {
      val (g0, c0, s0, ld) = (gcMsNow(), cachedMb(), taskSnap(), load100())
      val t0 = System.nanoTime()
      build()
      val sec = (System.nanoTime() - t0) / 1e9
      recordEvidence(name, "build", sec, g0, c0, s0, ld)
      sec
    } catch { case NonFatal(_) => -1.0 }
    val indexSec = timedBuild("ann_ivf_index", () => {
      rm(new java.io.File(graft.operators.Similarity.ivfRoot(spark, sfDir)))
      graft.operators.Similarity.ivfIndex(spark, sfDir): Unit
    })
    // same treatment for the F20 corpus-LM scores layout: forced-fresh
    // build timed as "text_lm_index"; text_lm_score / text_ccnet_buckets
    // then measure serving against the persisted scores, which is what a
    // deployment pays per query
    val lmSec = timedBuild("text_lm_index", () => {
      rm(new java.io.File(graft.operators.TextAnalysis.lmRoot(spark, sfDir)))
      graft.operators.TextAnalysis.lmScore(spark, sfDir).collect(): Unit
    })
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_(n)) }
    // sub-floor adaptivity threshold — same constant as the repro floor:
    // a query the repro block refuses to trust pass-over-pass is a query
    // whose GC/warmup treatment cannot change the perf-gate verdict
    val reproFloorSec = 0.5
    // wall-clock budget with staged degradation (see scaladoc); stage
    // transitions are recorded with the first query they affected
    // default sized from the measured r13 full run: 38.8 min wall at
    // 2700 s with late-pass degradation; 3300 s lets the full protocol
    // run degradation-free (~43 min) while keeping sbt-startup headroom
    // under the driver's ~60-min cap
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "3300").toDouble
    val wall0 = System.nanoTime()
    def stage(): Int = {
      val f = (System.nanoTime() - wall0) / 1e9 / budgetSec
      if (f > 1.0) 3 else if (f > 0.8) 2 else if (f > 0.6) 1 else 0
    }
    val degraded = scala.collection.mutable.ListBuffer.empty[String]
    var stageSeen = 0
    // best-known per-query time (from earlier pass / warmup) drives the
    // sub-floor decisions; write classification from pass 1 drives the
    // pass-2 warmup skip (read-path only)
    val knownMin = scala.collection.mutable.Map.empty[String, Double]
    val knownWrote = scala.collection.mutable.Map.empty[String, Boolean]
    // one pass over the suite (optionally restricted to `subset` — the
    // adaptive passes re-measure only the disagreers, WORST-FIRST, so a
    // budget cutoff spends its samples on the largest disagreements):
    // per query -> (min time if any rep succeeded, wrote-anything flag)
    def runPass(pass: Int,
        subset: Option[Seq[String]] = None): Seq[(String, Option[Double], Boolean)] = {
      val ordered = subset match {
        case Some(o) => o.flatMap(n => names.find(_._1 == n)) ++
          names.filterNot(n => o.contains(n._1))
        case None => names
      }
      // r17 (zero degraded BASE passes): from pass 2 on, every entry has
      // a pass-1 time, so the remaining base-pass work is projectable —
      // ~2 timed reps + quiesce ≈ 2.2×knownMin + 0.3 s per entry. The
      // fraction ladder exists to prevent an rc-124 overrun, but firing
      // it at 60% of budget while the projection says the pass finishes
      // at ~70% degraded the r15/r16 tails (stage1@p2:src_xml_features)
      // for no protection. Suffix sums let each entry keep the FULL
      // protocol whenever wall + projected-remaining fits in 92% of
      // budget; the stage-3 hard stop is never overridden, and
      // arbitration passes (pass > passes) keep the pure ladder — they
      // are budget-greedy by design.
      val suffixEst: Array[Double] =
        if (pass <= 1 || pass > passes) Array.empty
        else ordered.map { case (n, _) => 2.2 * knownMin.getOrElse(n, 1.0) + 0.3 }
          .scanRight(0.0)(_ + _).toArray
      ordered.zipWithIndex.map { case ((name, fn), idx) =>
        if (!subset.forall(_.contains(name)))
          (name, None, knownWrote.getOrElse(name, false))
        else {
        var wrote = knownWrote.getOrElse(name, false)
        def rep(i: String): Option[Double] = {
          val dir = new java.io.File(s"$benchScratch/${name}_$i")
          scratchKeys.foreach(k => spark.conf.set(k, dir.getAbsolutePath))
          val before = fixedStamp()
          val cached0 = cachedMb()
          val snap0 = taskSnap()
          val ld = load100()
          val gc0 = gcMsNow()
          val t0 = System.nanoTime()
          val res = try {
            fn(spark, sfDir).count()
            Some((System.nanoTime() - t0) / 1e9)
          } catch {
            case NonFatal(e) =>
              System.err.println(s"[bench] $name failed: ${e.getMessage}")
              None
          }
          res.foreach(t => recordEvidence(name, i, t, gc0, cached0, snap0, ld))
          wrote = wrote || dir.exists() || fixedStamp() != before
          rm(dir)
          res
        }
        val st = {
          val s0 = stage()
          val fits = suffixEst.nonEmpty && s0 < 3 &&
            (System.nanoTime() - wall0) / 1e9 + suffixEst(idx) <= 0.92 * budgetSec
          if (fits) 0 else s0
        }
        // markers carry the pass: a stage crossing during ARBITRATION
        // (pass > base passes) is budget-by-design, not base-protocol
        // degradation — the r15 "degraded stages" complaint was about
        // base passes, and the tag makes the two distinguishable
        if (st > stageSeen) { stageSeen = st; degraded += s"stage$st@p$pass:$name" }
        // stage 3 (budget fully spent): later passes stop re-measuring —
        // each remaining entry keeps its pass-1 number (its repro ratio
        // is simply unmeasured), so the bench can never overrun the
        // budget by more than the in-flight query. Pass 1 always runs
        // (a missing number is worse than a degraded one) at the
        // cheapest measurement (stage ≥ 2 already means no warmup, no
        // GC, 1 rep), and the overrun gets its own protocol marker: a
        // pass-1 suite that ALONE exceeds the budget is the next rc-124
        // timeout in the making, and must be visible before it is one.
        if (st >= 3 && pass == 1 && !degraded.exists(_.startsWith("stage3_pass1")))
          degraded += s"stage3_pass1_overrun@$name"
        if (st >= 3 && pass > 1)
          (name, None, knownWrote.getOrElse(name, false))
        else {
        val prior = knownMin.get(name)
        val subFloor = prior.exists(_ < reproFloorSec)
        // warmup (untimed for reporting, but measured to seed the
        // sub-floor decision on pass 1): pass 1 warms every entry
        // (codegen + file cache); later passes warm only WRITE-path
        // entries (each of their reps sees a fresh scratch dir) — a
        // read-path entry is already compiled and page-cached from pass
        // 1 in the same JVM, so its pass-2 warmup was pure wall with no
        // verdict effect (r16; this is what pulls the base passes back
        // under the 60% budget stage). Arbitration rounds (pass >
        // passes) never warm: their job is more SAMPLES, not colder
        // starts.
        val doWarmup = st < 2 && pass <= passes &&
          (pass == 1 || prior.isEmpty || wrote)
        val warmT = if (doWarmup) rep(s"p${pass}_w") else None
        val basis = prior.orElse(warmT)
        // quiesce once per query: unpersist always (evicts leaked
        // checkpoint blocks), full GC only when the query is above the
        // repro floor (or unmeasured) and budget allows
        unpersistLeaks()
        // arbitration samples keep the quiesce until the budget is SPENT
        // (stage 3): their whole purpose is comparable samples, and the
        // quiesce only runs for the shrinking disagreer set
        if ((st < 2 || (pass > passes && st < 3)) &&
            basis.forall(_ >= reproFloorSec)) gcQuiesce()
        val repsHere =
          if (st >= 1 || basis.exists(_ < reproFloorSec)) 1 else reps
        // early stop: once a timed rep lands under the floor the min is a
        // noise-floor verdict — further reps only refine what the floor
        // says is jitter (pass 2 still supplies the second sample)
        val times = scala.collection.mutable.ListBuffer.empty[Double]
        var i = 0
        while (i < repsHere && !times.lastOption.exists(_ < reproFloorSec)) {
          i += 1
          rep(s"p${pass}_$i").foreach(times += _)
        }
        val best = if (times.isEmpty) None else Some(times.min)
        (best.toSeq ++ warmT.toSeq).reduceOption(math.min(_, _)).foreach { t =>
          knownMin(name) = math.min(knownMin.getOrElse(name, t), t)
        }
        knownWrote(name) = wrote
        (name, best, wrote)
        }
        }
      }
    }
    val passWalls = scala.collection.mutable.ListBuffer.empty[Double]
    val basePasses: Seq[Seq[(String, Option[Double], Boolean)]] =
      (1 to passes).map { p =>
        val r = runPass(p)
        passWalls += math.rint((System.nanoTime() - wall0) / 1e9 * 10) / 10
        r
      }
    // adaptive extra passes (r14, iterated r15/r16): entries whose two
    // BEST minima disagree >1.3x get more measurements, budget
    // permitting — at the r13 noise floor a genuine 1.5x regression in a
    // 1-second query was indistinguishable from variance. With k samples
    // the repro ratio is the agreement of the two best minima, the
    // honest two-independent-measurements certificate; the reported time
    // stays min-of-all. r16 changes (the p90<=1.35 push): (a) the
    // arbitration rounds spend up to the REAL budget (any round may run
    // while wall < budget; r15 self-capped repeats at 60% while the wall
    // used 84%, leaving the tail unarbitrated); (b) rounds process the
    // WORST disagreement first, so a budget cutoff lands on the smallest
    // ones; (c) the PIN set — entries under cross-round wander
    // investigation, which always get extra samples — moved to the
    // SPARK_GRAFT_BENCH_PIN env var (default dedup_containment +
    // text_novelty, the r14/r15 wander instances) so retiring a pin is a
    // protocol change, not a code change, and is reported as its own
    // field instead of polluting n_third_sampled's meaning.
    val pinned: Set[String] = sys.env.getOrElse("SPARK_GRAFT_BENCH_PIN",
        "dedup_containment,text_novelty")
      .split(',').map(_.trim).filter(_.nonEmpty).toSet
      .intersect(names.map(_._1).toSet)
    // worst-first: (name, best2 ratio) for every entry over the bar
    def disagreers(pr: Seq[Seq[(String, Option[Double], Boolean)]]): Seq[String] =
      names.flatMap { case (name, _) =>
        val best2 = pr.flatMap(_.find(_._1 == name).flatMap(_._2)).sorted.take(2)
        if (best2.size == 2 && best2(1) > reproFloorSec &&
            best2(1) / best2(0) > 1.3)
          Some(name -> best2(1) / best2(0))
        else None
      }.sortBy(-_._2).map(_._1)
    var passResults: Seq[Seq[(String, Option[Double], Boolean)]] = basePasses
    // n_third_sampled counts entries a round ACTUALLY re-queued (a
    // disagreer surfacing after the final round got no extra sample and
    // must not inflate the metric)
    val extraSampled = scala.collection.mutable.Set.empty[String]
    if (passes >= 2) {
      var round = 0
      var want: Seq[String] = {
        val d = disagreers(passResults)
        d ++ pinned.toSeq.sorted.filterNot(d.contains)
      }
      while (want.nonEmpty && round < 8 && stage() < 3) {
        passResults = passResults :+ runPass(passes + 1 + round, Some(want))
        extraSampled ++= want.filterNot(pinned)
        round += 1
        want = disagreers(passResults)
      }
    }
    val disagree: Set[String] = extraSampled.toSet
    scratchKeys.foreach(spark.conf.unset)
    rm(new java.io.File(benchScratch))
    // merge: min across passes; write-path if any pass saw a write
    val results: Seq[(String, Option[Double], Boolean)] = names.map { case (name, _) =>
      val per = passResults.map(_.find(_._1 == name).get)
      val ts = per.flatMap(_._2)
      (name, if (ts.isEmpty) None else Some(ts.min), per.exists(_._3))
    }
    val writeNames = results.collect { case (n, _, true) => n }.toSet
    // reproducibility: per-query agreement ratio between the two BEST
    // pass minima (= pass1-vs-pass2 for 2-pass entries; the adaptive
    // third sample arbitrates for disagreers); the distribution is the
    // bench's own trust certificate. Sub-floor queries sit on the timer
    // floor (JIT/GC jitter dominates a 0.1 s measurement), so their
    // pass-over-pass ratios are noise, not signal: the distribution is
    // reported only over entries whose slower pass is above
    // `reproFloorSec`, and the floor is part of the JSON so the claim
    // is checkable
    val ratios: Seq[(String, Double)] =
      if (passes < 2) Seq.empty
      else names.flatMap { case (name, _) =>
        val ts = passResults.flatMap(_.find(_._1 == name).flatMap(_._2))
        val best2 = ts.sorted.take(2)
        if (best2.size == 2 && ts.sorted.apply(1) > reproFloorSec)
          Some(name -> best2(1) / best2(0))
        else None
      }
    def pct(sorted: Seq[Double], p: Double): Double =
      if (sorted.isEmpty) 0.0
      else sorted(math.min(sorted.size - 1, (p * sorted.size).toInt))
    val sortedRatios = ratios.map(_._2).sorted
    val over13 = ratios.filter(_._2 > 1.3).sortBy(-_._2)
    val reproJson =
      if (ratios.isEmpty) "null"
      else {
        val worst = ratios.maxBy(_._2)
        val passTotals = passResults.take(2)
          .map(p => p.flatMap(_._2).sum).map(t => f"$t%.3f").mkString("[", ",", "]")
        // over_1.3 lists EVERY offender (no silent cap); n_third_sampled
        // counts only entries whose minima genuinely disagreed (the pin
        // set is its own field — r16, so the metric's meaning is stable)
        s"""{"floor_sec":$reproFloorSec,"rule":"best2_of_samples",""" +
          s""""n_third_sampled":${disagree.size},""" +
          s""""pinned":${pinned.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
          s""""median":${pct(sortedRatios, 0.5)},"p90":${pct(sortedRatios, 0.9)},""" +
          s""""worst":${worst._2},"worst_query":"${worst._1}",""" +
          s""""n_measured":${ratios.size},"n_over_1.3":${over13.size},""" +
          s""""over_1.3":${over13.map(q => "\"" + q._1 + "\"").mkString("[", ",", "]")},""" +
          s""""pass_totals":$passTotals}"""
      }
    // wander evidence (r16, widened r17): every sample of the pinned
    // entries, the >1.3x disagreers, and the two always-timed index
    // builds, each as [label, sec, gc_ms inside the rep, cached_mb
    // before it, shuffle_read_mb, shuffle_write_mb, spill_mb, load100
    // at start] — the full line carries all of it; the compact line
    // carries only pinned entries whose samples STILL disagree (exactly
    // the case where the round artifact must name the mechanism)
    def wanderJson(names0: Seq[String]): String =
      names0.distinct.sorted.flatMap { n =>
        evidence.get(n).map { ev =>
          "\"" + n + "\":[" + ev.map { case (l, t, xs) =>
            s"""["$l",${math.rint(t * 1000) / 1000},${xs.mkString(",")}]"""
          }.mkString(",") + "]"
        }
      }.mkString("{", ",", "}")
    val wanderFull = wanderJson(pinned.toSeq ++ over13.map(_._1) ++
      Seq("ann_ivf_index", "text_lm_index"))
    // "recurring" = the pin's TIMED samples (warmups are expected-cold)
    // still fail the best2 agreement rule — exactly the repro criterion
    val wanderRecurring = pinned.toSeq.filter { n =>
      evidence.get(n).exists { ev =>
        val best2 = ev.collect { case (l, t, _) if !l.endsWith("_w") => t }
          .sorted.take(2)
        best2.size == 2 && best2(1) > reproFloorSec && best2(1) > 1.3 * best2(0)
      }
    }
    // canary set: the queries whose r8 drift exposed the comparability
    // problem — tracked by name so round-over-round diffs start here
    val canaries = Seq("etl_geomtype_fallback", "text_lm_score", "text_tfidf",
      "text_pack_chunks", "text_quality")
    val canaryJson = canaries.flatMap { c =>
      results.find(_._1 == c).flatMap(_._2).map(t => s"\"$c\":$t")
    }.mkString("{", ",", "}")
    val withIndex = results.map(r => (r._1, r._2)) :+ ("ann_ivf_index" ->
      (if (indexSec < 0) None else Some(indexSec))) :+ ("text_lm_index" ->
      (if (lmSec < 0) None else Some(lmSec)))
    val qs = withIndex
      .map { case (k, v) => s"\"" + k + "\":" + v.map(_.toString).getOrElse("null") }
      .mkString("{", ",", "}")
    val failed = withIndex.collect { case (k, None) => s"\"$k\"" }.mkString("[", ",", "]")
    val total = results.flatMap(_._2).sum
    val writeTotal = results.collect { case (n, Some(t), _) if writeNames(n) => t }.sum
    val readTotal = total - writeTotal
    val writeQs = writeNames.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // protocol block: everything a reader needs to compare this file to
    // an earlier round's — quiesce policy, adaptivity floor, scratch
    // medium, budget state and any degradation events (empty list =
    // full protocol throughout)
    val protocolJson =
      s"""{"quiesce":"per_query_above_floor","floor_sec":$reproFloorSec,""" +
        s""""scratch":"$scratchMedium","budget_sec":$budgetSec,""" +
        s""""wall_sec":${math.rint((System.nanoTime() - wall0) / 1e9 * 10) / 10},""" +
        s""""gc_count":$gcCount,"gc_ms":${gcMsNow()},""" +
        s""""pass_walls":${passWalls.mkString("[", ",", "]")},""" +
        s""""degraded":${degraded.map(d => "\"" + d + "\"").mkString("[", ",", "]")}}"""
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","read_total":$readTotal,"write_total":$writeTotal,"repro":$reproJson,"canary":$canaryJson,"protocol":$protocolJson,"wander":$wanderFull,"write_queries":$writeQs,"queries":$qs,"failed":$failed,"sf":"$sfDir","reps":$reps,"passes":$passes}"""
    // file copy first: if stdout is truncated downstream the full map survives
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    try {
      val w = new java.io.PrintWriter(new java.io.File(out), "UTF-8")
      try w.println(line) finally w.close()
    } catch { case NonFatal(e) => System.err.println(s"[bench] write $out failed: ${e.getMessage}") }
    // stdout contract (r15): the driver keeps only a ~2000-char TAIL of
    // stdout and parses a JSON object out of it. Two failure modes kept
    // `parsed` null through r14: (a) the full line is ~13 KB so its head
    // starts outside the tail, and (b) sbt's logger prefixed every run
    // line with "[info] " so even the in-window compact line never
    // STARTED with '{' (fixed in build.sbt via OutputStrategy
    // .StdoutOutput). The contract now: the full line first (whole-scroll
    // captures get everything in one parse), then the per-query map
    // re-emitted as self-contained <=3800-byte chunk lines (each a valid
    // JSON object, so any window >=4 KB holds at least one complete
    // chunk), then a compact summary line LAST, hard-capped under the
    // 2000-char tail window and carrying the per-entry times as a
    // centisecond array (see the qcs/qds builder below), so the round
    // artifact alone reconstructs every entry's time.
    println(line)
    val qPairs = withIndex.map { case (k, v) =>
      s"\"" + k + "\":" + v.map(_.toString).getOrElse("null")
    }
    val chunks = scala.collection.mutable.ArrayBuffer(scala.collection.mutable.ArrayBuffer.empty[String])
    qPairs.foreach { p =>
      if (chunks.last.map(_.length + 1).sum + p.length > 3600) chunks += scala.collection.mutable.ArrayBuffer.empty[String]
      chunks.last += p
    }
    chunks.zipWithIndex.foreach { case (c, i) =>
      println(s"""{"metric":"queries_chunk","part":${i + 1},"parts":${chunks.size},"queries":${c.mkString("{", ",", "}")}}""")
    }
    val top10 = withIndex.collect { case (k, Some(t)) => (k, t) }
      .sortBy(-_._2).take(10)
      .map { case (k, t) => s"\"$k\":${math.rint(t * 1000) / 1000}" }
      .mkString("{", ",", "}")
    val failedN = withIndex.count(_._2.isEmpty)
    // self-contained per-entry times (r16): the driver's round artifact
    // keeps only a ~2000-char stdout TAIL, so a keyed per-query map
    // (~10 KB) can never survive — but a bare integer ARRAY in suite
    // order can. "qcs" = centiseconds (or "qds" = deciseconds when the
    // suite is too large for centi to fit), one value per entry, order =
    // the sorted query names followed by ann_ivf_index and
    // text_lm_index — the exact key set CORRECTNESS_rN.json carries, so
    // BENCH_rN.json + the round's correctness file reconstruct every
    // entry's time with no BENCH_LOCAL fallback. The builder degrades
    // precision, then the derivable canary/slowest maps, before ever
    // dropping the array, and hard-caps the line under the tail window.
    def round3(x: Double): Double = math.rint(x * 1000) / 1000
    def qArr(mult: Int): String = withIndex
      .map(_._2.map(t => math.round(t * mult).toString).getOrElse("null"))
      .mkString("[", ",", "]")
    val reproCompact =
      if (ratios.isEmpty) "null"
      else s"""{"median":${round3(pct(sortedRatios, 0.5))},"p90":${round3(pct(sortedRatios, 0.9))},"worst":${round3(ratios.map(_._2).max)},"n_over_1.3":${over13.size},"n_third_sampled":${disagree.size},"n_pinned":${pinned.size}}"""
    val wanderCompact =
      if (wanderRecurring.isEmpty) "" else s""","wander":${wanderJson(wanderRecurring)}"""
    // qorder spells out the qcs/qds array's key rule IN the artifact, so
    // a reader of the round file alone (the r17 judge reconstructed this
    // by hand) knows the zip order without consulting the bench source
    def mkCompact(qdsField: String, extras: Boolean, wander: String): String =
      s"""{"metric":"total","value":${round3(total)},"unit":"sec","read_total":${round3(readTotal)},"write_total":${round3(writeTotal)},"n_queries":${withIndex.size},"n_failed":$failedN,"qorder":"sorted_names+2builds","repro":$reproCompact,"protocol":$protocolJson$wander$qdsField${
        if (extras) s""","canary":$canaryJson,"slowest":$top10""" else ""
      },"full":"$out","sf":"$sfDir","reps":$reps,"passes":$passes}"""
    val tailWindow = 1850 // driver tail is 2000 chars incl. sbt's epilogue
    val compact = Seq(
      mkCompact(s""","qcs":${qArr(100)}""", extras = true, wanderCompact),
      mkCompact(s""","qcs":${qArr(100)}""", extras = false, wanderCompact),
      mkCompact(s""","qds":${qArr(10)}""", extras = false, wanderCompact),
      mkCompact("", extras = true, wanderCompact),
      mkCompact("", extras = false, wanderCompact),
      mkCompact("", extras = false, ""))
      .find(_.length <= tailWindow)
      .getOrElse(mkCompact("", extras = false, ""))
    println(compact)
    spark.stop()
  }
}
