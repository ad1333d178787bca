package graft

import graft.streaming.{CellFold, EventStreams}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming specs (SURVEY G1/G2): the streaming transforms,
  * driven through MemoryStream → memory sink, must agree with the batch
  * path on the same rows. */
class StreamingSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private val rows = Seq(
    (ts("2024-01-01 00:05:00"), "click", 1.0),
    (ts("2024-01-01 00:15:00"), "click", 2.0),
    (ts("2024-01-01 00:20:00"), "view", 3.0),
    (ts("2024-01-01 01:10:00"), "click", 4.0),
    (ts("2024-01-01 02:30:00"), "view", 5.0),
    (ts("2024-01-01 03:00:00"), "click", 6.0))

  test("G1: streaming windowed agg equals batch on the same data") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val stream = mem.toDF().toDF("ts", "event_type", "value")
    val q = EventStreams.windowedCounts(stream)
      .writeStream.outputMode("complete").format("memory").queryName("g1_out").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("g1_out")
        .select("bucket_start", "event_type", "n", "sum_value")
        .collect().map(_.toSeq).toSet
      val exp = EventStreams.windowedCounts(rows.toDF("ts", "event_type", "value"))
        .collect().map(_.toSeq).toSet
      assert(got == exp)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("G3: flatMapGroupsWithState carries session state across batches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{SessionEvent, SessionSummary}
    val mem = MemoryStream[SessionEvent]
    val q = EventStreams.sessionizeStream(mem.toDS(), gapSec = 1800L)
      .writeStream.outputMode("append").format("memory").queryName("g3_out").start()
    try {
      // batch 1: open sessions for users 1 and 2 — nothing emitted yet
      mem.addData(SessionEvent(1L, 1000L, 1.0), SessionEvent(1L, 1100L, 2.0),
        SessionEvent(2L, 1000L, 7.0))
      q.processAllAvailable()
      assert(spark.table("g3_out").count() == 0)
      // batch 2: u1 event past the gap closes u1's session; u2 continues
      mem.addData(SessionEvent(1L, 9000L, 5.0), SessionEvent(2L, 2000L, 1.0))
      q.processAllAvailable()
      // batch 3: u2 event past the gap closes u2's (cross-batch!) session
      mem.addData(SessionEvent(2L, 9000L, 2.0))
      q.processAllAvailable()
      val sessions = spark.table("g3_out").as[SessionSummary].collect()
        .map(s => (s.user_id, s.n_events, s.start_sec, s.end_sec, s.session_value)).toSet
      assert(sessions == Set(
        (1L, 2L, 1000L, 1100L, 3.0),  // closed in batch 2
        (2L, 2L, 1000L, 2000L, 8.0))) // state spanned batches 1–2, closed in 3
    } finally q.stop()
  }

  test("G9: event-time timeout flags a silent source with zero new data from it") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{SourceEvent, StaleAlert}
    val mem = MemoryStream[SourceEvent]
    val q = EventStreams.stalenessStream(mem.toDS(), staleAfterSec = 600L)
      .writeStream.outputMode("append").format("memory").queryName("g9_out").start()
    try {
      // batch 1: both sources alive at t=100s
      mem.addData(SourceEvent(ts("2024-01-01 00:01:40"), "A"),
        SourceEvent(ts("2024-01-01 00:01:40"), "B"))
      q.processAllAvailable()
      assert(spark.table("g9_out").count() == 0)
      // batch 2: ONLY B reports at t=1000s — the watermark advances past
      // A's timeout (100 + 600), armed entirely by B's traffic
      mem.addData(SourceEvent(ts("2024-01-01 00:16:40"), "B"))
      q.processAllAvailable()
      // batch 3: B again — the engine now processes A's expired timer.
      // A contributed NO event since t=100: the alert is timer-driven.
      mem.addData(SourceEvent(ts("2024-01-01 00:18:20"), "B"))
      q.processAllAvailable()
      val alerts = spark.table("g9_out").as[StaleAlert].collect()
        .map(a => (a.source, a.last_seen_sec)).toSet
      assert(alerts.map(_._1) == Set("A"), s"expected only A stale: $alerts")
      // last_seen is A's true final event second (epoch of 00:01:40)
      val wantSec = ts("2024-01-01 00:01:40").getTime / 1000L
      assert(alerts.head._2 == wantSec)
      // B keeps refreshing its own timer — never flagged while it reports
      assert(!spark.table("g9_out").as[StaleAlert].collect().exists(_.source == "B"))
    } finally q.stop()
  }

  test("G4: stream-stream interval join (click->purchase attribution)") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(java.sql.Timestamp, Long)]
    val purchases = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val c = clicks.toDF().toDF("c_ts", "c_user").withWatermark("c_ts", "10 minutes")
    val p = purchases.toDF().toDF("p_ts", "p_user", "amount").withWatermark("p_ts", "10 minutes")
    val joined = c.join(p,
      expr("c_user = p_user AND p_ts BETWEEN c_ts AND c_ts + INTERVAL 30 MINUTES"))
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("g4_out").start()
    try {
      clicks.addData((ts("2024-01-01 00:00:00"), 1L), (ts("2024-01-01 02:00:00"), 2L))
      purchases.addData(
        (ts("2024-01-01 00:10:00"), 1L, 9.5),   // within 30min of user 1 click
        (ts("2024-01-01 03:00:00"), 2L, 4.0))   // outside user 2 click window
      q.processAllAvailable()
      val got = spark.table("g4_out").select("p_user", "amount")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(got == Set((1L, 9.5)))
    } finally q.stop()
  }

  test("G11: stream-static enrichment equals the batch join and keeps dim-less facts") {
    implicit val sqlCtx = spark.sqlContext
    val dim = spark.read.parquet(s"$sfDir/nation.parquet")
      .select(col("n_nationkey").as("nationkey"), col("n_name"))
    val facts = MemoryStream[(Long, Double)]
    val stream = facts.toDF().toDF("nationkey", "value")
    val q = EventStreams.enrichStream(stream, dim, "nationkey")
      .writeStream.outputMode("append").format("memory").queryName("g11_out").start()
    try {
      // nationkey 999 has no dim row and must survive with a null name
      val data = Seq((0L, 1.5), (3L, 2.0), (3L, 2.5), (999L, 9.9))
      facts.addData(data: _*)
      q.processAllAvailable()
      val got = spark.table("g11_out")
        .select("nationkey", "value", "n_name").collect()
        .map(r => (r.getLong(0), r.getDouble(1), Option(r.getString(2)))).toSet
      val want = EventStreams.enrichStream(
          data.toDF("nationkey", "value"), dim, "nationkey")
        .select("nationkey", "value", "n_name").collect()
        .map(r => (r.getLong(0), r.getDouble(1), Option(r.getString(2)))).toSet
      assert(got == want, s"$got vs $want")
      assert(got.exists { case (k, _, name) => k == 999L && name.isEmpty },
        "dim-less fact was dropped or spuriously enriched")
      assert(got.exists { case (k, _, name) => k == 3L && name.nonEmpty })
    } finally q.stop()
  }

  test("G12: stream-stream LEFT OUTER join emits the null match only after the watermark closes the window") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(java.sql.Timestamp, Long)]
    val purchases = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val c = clicks.toDF().toDF("c_ts", "c_user").withWatermark("c_ts", "10 minutes")
    val p = purchases.toDF().toDF("p_ts", "p_user", "amount")
      .withWatermark("p_ts", "10 minutes")
    // outer attribution: every click must eventually emit, matched or not —
    // the engine may only emit the null row once the watermark proves no
    // matching purchase can still arrive for the click's 30-minute window
    val joined = c.join(p,
      expr("c_user = p_user AND p_ts BETWEEN c_ts AND c_ts + INTERVAL 30 MINUTES"),
      "left_outer")
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("g12_out").start()
    try {
      clicks.addData((ts("2024-01-01 00:00:00"), 1L), (ts("2024-01-01 00:00:00"), 2L))
      purchases.addData((ts("2024-01-01 00:10:00"), 1L, 9.5))
      q.processAllAvailable()
      // user 2's window is still open — emitting (2, null) now would be wrong
      assert(!spark.table("g12_out").collect().exists(_.isNullAt(2)),
        "null-joined row emitted while the join window was still open")
      // push event time far past window + watermark, then one more batch so
      // the state store evicts and emits the expired click
      clicks.addData((ts("2024-01-01 05:00:00"), 99L))
      purchases.addData((ts("2024-01-01 05:00:00"), 98L, 1.0))
      q.processAllAvailable()
      clicks.addData((ts("2024-01-01 06:00:00"), 97L))
      q.processAllAvailable()
      val out = spark.table("g12_out").collect()
      val nullUsers = out.filter(_.isNullAt(2)).map(_.getLong(1)).toSet
      assert(nullUsers.contains(2L),
        s"expired unmatched click never emitted: ${out.mkString("; ")}")
      assert(out.filter(!_.isNullAt(2)).exists(r =>
        r.getLong(1) == 1L && r.getDouble(4) == 9.5))
      // nothing double-emits: user 1 appears exactly once
      assert(out.count(_.getLong(1) == 1L) == 1)
    } finally q.stop()
  }

  test("G2: dropDuplicatesWithinWatermark dedups repeated keys in-stream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val stream = mem.toDF().toDF("ts", "event_type", "value")
    val q = EventStreams.dedupStream(stream, Seq("event_type"))
      .writeStream.outputMode("append").format("memory").queryName("g2_out").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("g2_out").select("event_type").as[String].collect()
      // one row per distinct key within the watermark
      assert(got.sorted.toSeq == Seq("click", "view"))
    } finally q.stop()
  }

  test("G5: custom CMS TypedImperativeAggregate works under incremental execution") {
    // sketches in streaming aggregations are the standard production
    // pattern: partials per micro-batch, merged into the state store.
    // The streamed sketch (3 separate micro-batches) must equal the
    // one-shot batch sketch over the same rows.
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.CmsAggregate
    val mem = MemoryStream[(String, Long)]
    val stream = mem.toDF().toDF("grp", "k")
    val q = stream.groupBy(col("grp"))
      .agg(CmsAggregate.cmsSketch(spark, col("k")).as("sketch"))
      .writeStream.outputMode("complete").format("memory").queryName("g5_out").start()
    try {
      val batches = Seq(
        (0L until 300L).map(i => ("a", i % 17)) ++ (0L until 100L).map(i => ("b", i % 5)),
        (0L until 200L).map(i => ("a", i % 23)),
        (0L until 50L).map(i => ("b", i % 3)))
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      val streamed = spark.table("g5_out").collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      val batch = batches.flatten.toDF("grp", "k").groupBy(col("grp"))
        .agg(CmsAggregate.cmsSketch(spark, col("k")).as("sketch")).collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      assert(streamed == batch)
      assert(streamed("a").sum > 0)
    } finally q.stop()
  }

  test("quantile sketch under incremental execution equals the batch sketch") {
    // same contract as the CMS case: micro-batch partials merged through
    // the state store must reproduce the one-shot histogram exactly
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.QuantileAggregate
    val mem = MemoryStream[(String, Double)]
    val stream = mem.toDF().toDF("grp", "v")
    val q = stream.groupBy(col("grp"))
      .agg(QuantileAggregate.quantileSketch(spark, col("v"), 0.0, 100.0).as("sketch"))
      .writeStream.outputMode("complete").format("memory").queryName("g6_out").start()
    try {
      val batches = Seq(
        (0 until 300).map(i => ("a", (i % 97).toDouble)) ++
          (0 until 80).map(i => ("b", (i % 11).toDouble)),
        (0 until 150).map(i => ("a", (i % 53).toDouble)),
        (0 until 40).map(i => ("b", (i * 2.5) % 100)))
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      val streamed = spark.table("g6_out").collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      val batch = batches.flatten.toDF("grp", "v").groupBy(col("grp"))
        .agg(QuantileAggregate.quantileSketch(spark, col("v"), 0.0, 100.0).as("sketch"))
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      assert(streamed == batch)
      assert(streamed("a").sum == 450L, "every value lands in a bin")
    } finally q.stop()
  }

  test("HLL sketch under incremental execution equals the batch sketch") {
    // element-wise-MAX register merge is idempotent, so re-merged state
    // partials across micro-batches must land on the identical registers
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.HllAggregate
    val mem = MemoryStream[(String, Long)]
    val stream = mem.toDF().toDF("grp", "k")
    val q = stream.groupBy(col("grp"))
      .agg(HllAggregate.hllSketch(spark, col("k")).as("sketch"))
      .writeStream.outputMode("complete").format("memory").queryName("g7_out").start()
    try {
      val batches = Seq(
        (0L until 400L).map(i => ("a", i)) ++ (0L until 60L).map(i => ("b", i * 7)),
        (200L until 500L).map(i => ("a", i)), // overlaps batch 1: idempotence
        (0L until 30L).map(i => ("b", i * 7))) // full re-send of b's prefix
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      // the aggregate evals to the ESTIMATE; identical registers ⇒
      // identical estimate, and idempotent max-merge means the re-sent
      // overlap cannot inflate it
      val streamed = spark.table("g7_out").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val batch = batches.flatten.toDF("grp", "k").groupBy(col("grp"))
        .agg(HllAggregate.hllSketch(spark, col("k")).as("sketch")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(streamed == batch)
      // sanity: estimates in the 4-sigma band the batch spec pins
      assert(math.abs(streamed("a") - 500L) <= 500L * 0.21,
        s"a estimated ${streamed("a")}, true 500")
    } finally q.stop()
  }

  test("Bloom filter under incremental execution equals the batch filter") {
    // OR-merge through the state store: the streamed filter must be
    // bit-identical to the one-shot batch filter, and still have zero
    // false negatives over every key it saw
    implicit val sqlCtx = spark.sqlContext
    import graft.functions.BloomAggregate
    val mem = MemoryStream[(String, Long)]
    val stream = mem.toDF().toDF("grp", "k")
    val q = stream.groupBy(col("grp"))
      .agg(BloomAggregate.bloomAgg(spark, col("k")).as("bits"))
      .writeStream.outputMode("complete").format("memory").queryName("g8_out").start()
    try {
      val batches = Seq(
        (0L until 300L).map(i => ("a", i * 3)),
        (0L until 200L).map(i => ("a", 900L + i)) ++ (0L until 80L).map(i => ("b", i)),
        (0L until 40L).map(i => ("b", i))) // re-sent keys: OR-merge idempotence
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      val streamed = spark.table("g8_out").collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      val batch = batches.flatten.toDF("grp", "k").groupBy(col("grp"))
        .agg(BloomAggregate.bloomAgg(spark, col("k")).as("bits")).collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      assert(streamed == batch)
      // zero false negatives: every planted key tests positive against
      // the streamed filter
      val bitsA = streamed("a").toArray
      val probe = batches.flatten.filter(_._1 == "a").map(_._2).distinct
        .toDF("k").withColumn("hit", BloomAggregate.mightContain(
          org.apache.spark.sql.functions.typedLit(bitsA), col("k")))
      assert(probe.filter(!col("hit")).count() == 0)
    } finally q.stop()
  }

  test("G13: streaming circuit breaker carries open/closed state across micro-batches, equals batch replay") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{Attempt, BreakerDecision}
    // the D33 spec's three sources, threshold 3 / cooldown 5: "down"
    // fails forever (trip -> skip window -> failed trial -> re-trip),
    // "flaky" never accumulates 3, "heals" trips then recovers on trial
    val attempts =
      (0L to 9L).map(s => Attempt("down", s, s, 1)) ++
      Seq(0, 1, 0, 1, 1, 0, 1, 1, 0, 1).zipWithIndex.map { case (f, s) =>
        Attempt("flaky", s.toLong, 100L + s, f) } ++
      (Seq(1, 1, 1) ++ Seq.fill(5)(-1) ++ Seq(0, 1, 1, 0)).zipWithIndex.collect {
        case (f, s) if f >= 0 => Attempt("heals", s.toLong, 200L + s, f) }
    val mem = MemoryStream[Attempt]
    val q = EventStreams.circuitBreakerStream(mem.toDS(), threshold = 3, cooldownSec = 5L)
      .writeStream.outputMode("append").format("memory").queryName("g13_out").start()
    try {
      // three micro-batches split MID-STREAK and MID-OPEN-WINDOW per
      // source: the trip clock and failure count must survive the state
      // store, not the batch
      val ordered = attempts.sortBy(a => (a.source, a.sec))
      val cuts = Seq(
        ordered.filter(_.sec <= 2L),
        ordered.filter(a => a.sec > 2L && a.sec <= 7L),
        ordered.filter(_.sec > 7L))
      cuts.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      val streamed = spark.table("g13_out").as[BreakerDecision].collect()
        .map(d => (d.source, d.seq, d.sec, d.attempt_id, d.failed, d.decision)).toSet
      val batch = graft.operators.LoadOps.circuitBreakerOver(
          attempts.map(a => (a.source, a.sec, a.attempt_id, a.failed))
            .toDF("source", "sec", "attempt_id", "failed"),
          threshold = 3, cooldownSec = 5L).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getInt(4), r.getString(5))).toSet
      assert(streamed == batch, s"stream/batch diverged:\n${(streamed -- batch)}\n${(batch -- streamed)}")
      // the open window spans batch 2 for "down": every decision there
      // is skipped even though the trip happened in batch 1
      val downMid = spark.table("g13_out").as[BreakerDecision].collect()
        .filter(d => d.source == "down" && d.sec > 2L && d.sec < 7L)
      assert(downMid.nonEmpty && downMid.forall(_.decision == "skipped"), downMid.mkString(","))
    } finally q.stop()
  }

  test("G14: streaming changelog apply converges to the batch snapshot across out-of-order micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.ChangeEvent
    import org.apache.spark.sql.functions.col
    // key 1: I then U; key 2: I then D (stays dead); key 3: I, D, then
    // re-insert; key 4: update arrives BEFORE its insert (cross-batch
    // seq disorder); key 5: single insert
    val log = Seq(
      ChangeEvent(1L, 0L, "I", 10.0), ChangeEvent(1L, 1L, "U", 11.0),
      ChangeEvent(2L, 0L, "I", 20.0), ChangeEvent(2L, 1L, "D", 0.0),
      ChangeEvent(3L, 0L, "I", 30.0), ChangeEvent(3L, 1L, "D", 0.0),
      ChangeEvent(3L, 2L, "I", 33.0),
      ChangeEvent(4L, 0L, "I", 40.0), ChangeEvent(4L, 1L, "U", 44.0),
      ChangeEvent(5L, 0L, "I", 50.0))
    val stateDir = java.nio.file.Files.createTempDirectory("g14").toString + "/state"
    val mem = MemoryStream[ChangeEvent]
    val q = EventStreams.changelogStream(mem.toDS(), stateDir)
    try {
      // batch cuts land mid-key-history, and key 4's UPDATE (seq 1)
      // arrives a batch before its INSERT (seq 0)
      val cuts = Seq(
        Seq(log(0), log(2), log(4), log(8)),          // 1/I 2/I 3/I 4/U(seq1!)
        Seq(log(1), log(3), log(5), log(7)),          // 1/U 2/D 3/D 4/I(seq0)
        Seq(log(6), log(9)))                          // 3/re-I 5/I
      cuts.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      val streamedState = spark.read.parquet(stateDir)
      val streamed = streamedState.filter(col("op") =!= "D")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSet
      val batch = graft.operators.LoadOps.changelogSnapshot(
          log.toDF("key", "seq", "op", "value"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSet
      assert(streamed == batch,
        s"stream/batch diverged:\n${streamed -- batch}\n${batch -- streamed}")
      // the late insert must NOT have overridden the earlier-arrived
      // newer update, and the tombstone for key 2 is carried in state
      assert(streamed.contains((4L, 1L, "U", 44.0)))
      assert(streamedState.filter(col("key") === 2L && col("op") === "D").count() == 1L,
        "state must carry the tombstone, not drop it")
    } finally q.stop()
  }

  test("G15: streaming paragraph dedup over ordered batches equals the batch pass") {
    implicit val sqlCtx = spark.sqlContext
    // the SAME planted wire as F49, fed in doc_id order in three slices —
    // arrival-order keep-first then coincides with the batch min-key rule
    val wired = graft.operators.Dedup.paragraphWire(
        Tables(spark, sfDir).documents.select(col("doc_id"), col("text")))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val stateDir = java.nio.file.Files.createTempDirectory("g15").toString + "/state"
    val mem = MemoryStream[(Long, String)]
    // compactEvery=2 so three slices exercise a delta→base compaction
    // mid-stream AND leave a live delta after it (base+delta read path)
    val q = EventStreams.paragraphDedupStream(
      mem.toDF().toDF("doc_id", "text"), stateDir, compactEvery = 2)
    try {
      val third = (wired.length + 2) / 3
      wired.grouped(third).foreach { slice =>
        mem.addData(slice.toIndexedSeq: _*); q.processAllAvailable()
      }
      val streamed = spark.read.parquet(stateDir + "/report")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
      // the batch op's report minus its corpus-wide dup count (a stream
      // cannot know a chunk's FUTURE duplicates at emission time)
      val batch = graft.operators.Dedup.dedupParagraph(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4)))
        .sortBy(_._1).toSeq
      assert(streamed == batch,
        s"stream/batch diverged; first diff: ${
          streamed.zip(batch).find(p => p._1 != p._2)}")
      // the ledger (base ∪ deltas) is the corpus's distinct chunk set
      assert(EventStreams.readLedger(spark, stateDir + "/seen").get.count() ==
        batch.map(_._3).sum, "ledger cardinality != kept chunks")
      // O(new-state) publish: re-feeding an already-seen slice must add
      // ZERO ledger bytes (the r12 full-rewrite republished the whole
      // corpus ledger every trigger — the quadratic-ingest bug)
      def treeBytes(p: String): Long = {
        def walk(f: java.io.File): Long =
          if (!f.exists()) 0L
          else if (f.isFile) f.length()
          else f.listFiles().map(walk).sum
        walk(new java.io.File(p))
      }
      val bytesBefore = treeBytes(stateDir + "/seen") +
        treeBytes(stateDir + "/seen.delta")
      mem.addData(wired.take(third).toIndexedSeq: _*); q.processAllAvailable()
      val bytesAfter = treeBytes(stateDir + "/seen") +
        treeBytes(stateDir + "/seen.delta")
      assert(bytesAfter == bytesBefore,
        s"re-fed old data grew the ledger: $bytesBefore -> $bytesAfter bytes")
    } finally q.stop()
  }

  test("G15 ledger crash window: a stale delta changes nothing and compaction self-heals") {
    implicit val sqlCtx = spark.sqlContext
    // the appendLedger contract under its one crash window (compaction
    // published the new base, crashed before dropping the absorbed
    // deltas): duplicate ledger rows must not change any report row
    // (reads are anti-joins) and the next compaction must dedup. Proven
    // by running the SAME feed twice — once clean, once with the base
    // re-injected as a stale delta — and comparing bit-for-bit.
    val docs = Seq(
      (1L, "a b c d e f"), (2L, "a b c x y z"),   // slice 1 (w=3 chunks)
      (3L, "d e f p q r"), (4L, "p q r x y z"),   // slice 2 → compaction
      (5L, "m n o a b c"), (6L, "m n o d e f"))   // slice 3 (post-window)
    def run(poison: Boolean): (Seq[(Long, Long, Long, Long)], Long, Long) = {
      val stateDir = java.nio.file.Files.createTempDirectory("g15cw").toString + "/state"
      val mem = MemoryStream[(Long, String)]
      val q = EventStreams.paragraphDedupStream(
        mem.toDF().toDF("doc_id", "text"), stateDir, w = 3, compactEvery = 2)
      try {
        mem.addData(docs(0), docs(1)); q.processAllAvailable()
        mem.addData(docs(2), docs(3)); q.processAllAvailable() // 2 deltas → compact
        if (poison) spark.read.parquet(stateDir + "/seen")
          .write.mode("overwrite").parquet(stateDir + "/seen.delta/d999")
        mem.addData(docs(4), docs(5)); q.processAllAvailable()
        val report = spark.read.parquet(stateDir + "/report").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .sortBy(_._1).toSeq
        val ledger = EventStreams.readLedger(spark, stateDir + "/seen").get
          .localCheckpoint(true)
        (report, ledger.count(), ledger.distinct().count())
      } finally q.stop()
    }
    val (cleanReport, cleanN, _) = run(poison = false)
    val (poisonedReport, n, nDistinct) = run(poison = true)
    assert(poisonedReport == cleanReport,
      s"stale-delta duplicates changed the report:\n$poisonedReport\n$cleanReport")
    assert(n == nDistinct, s"compaction left duplicate ledger rows: $n vs $nDistinct")
    assert(n == cleanN, "poisoned run's healed ledger diverged from the clean run")
  }

  test("G30/G31: streaming cramers and winsorized equal the batch assembly after every trigger") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // G30: a wire whose association FLIPS mid-stream — first slice is
    // functionally dependent (V=1), later slices add independent mass
    val dep = (1 to 4).flatMap(a => Seq.fill(6)((a.toString, (a * 10).toString)))
    val ind = for { a <- 1 to 4; b <- Seq(10, 20, 30, 40); _ <- 1 to 2 }
      yield (a.toString, b.toString)
    val slices = Seq(dep, ind.take(16), ind.drop(16))
    val stateDir = java.nio.file.Files.createTempDirectory("g30").toString + "/state"
    val mem = MemoryStream[(String, String)]
    val q = EventStreams.foldStream(
      mem.toDF().toDF("a", "b"), stateDir, CellFold.cramers("x", "y"))
    try {
      var fed = Seq.empty[(String, String)]
      slices.foreach { slice =>
        mem.addData(slice.toIndexedSeq: _*); q.processAllAvailable()
        fed = fed ++ slice
        val streamed = spark.read.parquet(stateDir + "/report")
          .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(4),
            r.getDouble(5), r.getDouble(6))).toSeq
        val batch = graft.operators.Relational.cramersVOf(
            fed.toDF("a", "b"), "x", "y")
          .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(4),
            r.getDouble(5), r.getDouble(6))).toSeq
        assert(streamed == batch, s"cramers diverged at prefix ${fed.length}")
      }
      val v1 = spark.read.parquet(stateDir + "/report").collect().head.getDouble(6)
      assert(v1 < 1.0, "independent mass must pull V below the dependent 1.0")
    } finally q.stop()
    // G31: value slices with a whale arriving LAST — the boundary picks
    // and means must re-derive from the accumulated cells every trigger
    val vals = (1 to 40).map(i => ("A", i.toLong * 100)) :+ (("A", 99999900L))
    val sd2 = java.nio.file.Files.createTempDirectory("g31").toString + "/state"
    val mem2 = MemoryStream[(String, Long)]
    val q2 = EventStreams.foldStream(mem2.toDF().toDF("flag", "v"), sd2, CellFold.winsorized)
    try {
      var fed = Seq.empty[(String, Long)]
      vals.grouped(14).foreach { slice =>
        mem2.addData(slice.toIndexedSeq: _*); q2.processAllAvailable()
        fed = fed ++ slice
        val streamed = spark.read.parquet(sd2 + "/report")
          .collect().map(_.toSeq).toSeq
        val batch = graft.operators.Relational.winsorizedFromCells(
            fed.toDF("flag", "v").groupBy(col("flag"), col("v"))
              .agg(org.apache.spark.sql.functions.count(
                org.apache.spark.sql.functions.lit(1)).cast("long").as("cnt")))
          .collect().map(_.toSeq).toSeq
        assert(streamed == batch, s"winsorized diverged at prefix ${fed.length}")
      }
      // the whale is clamped: winsorized mean stays far below the raw mean
      val fin = spark.read.parquet(sd2 + "/report").collect().head
      assert(fin.getLong(5) < fin.getLong(4), "whale must be clamped by winsorizing")
    } finally q2.stop()
  }

  test("G29: streaming top paths equals the batch pass over the prefix after every trigger") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // global (sec, event_id) order ⇒ every user's events arrive in order
    val ev = Tables(spark, sfDir).eventsSec
      .selectExpr("user_id", "event_id", "sec", "event_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(e => (e._3, e._2))
    val stateDir = java.nio.file.Files.createTempDirectory("g29").toString + "/state"
    val mem = MemoryStream[(Long, Long, Long, String)]
    val q = EventStreams.topPathsStream(
      mem.toDF().toDF("user_id", "event_id", "sec", "event_type"), stateDir)
    try {
      val third = (ev.length + 2) / 3
      var fed = Array.empty[(Long, Long, Long, String)]
      ev.grouped(third).foreach { slice =>
        mem.addData(slice.toIndexedSeq: _*); q.processAllAvailable()
        fed = fed ++ slice
        val streamed = spark.read.parquet(stateDir + "/report")
          .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
            r.getLong(3))).sortBy(_._1).toSeq
        val batch = graft.operators.Relational.topPathsAssemble(
            graft.operators.Relational.pathCellsOf(
              fed.toSeq.toDF("user_id", "event_id", "sec", "event_type")), 20)
          .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
            r.getLong(3))).sortBy(_._1).toSeq
        assert(streamed == batch,
          s"stream/batch diverged at prefix ${fed.length}; first diff: ${
            streamed.zip(batch).find(p => p._1 != p._2)}")
      }
      // the tail state stays ≤ 2 rows per user
      val tails = spark.read.parquet(stateDir + "/tail")
        .groupBy(org.apache.spark.sql.functions.col("user_id")).count()
        .collect().map(_.getLong(1))
      assert(tails.nonEmpty && tails.forall(_ <= 2L), "tail state exceeds 2 rows/user")
      // and the final cumulative report equals the registered E59 query
      val full = graft.operators.Relational.qTopPaths(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3))).sortBy(_._1).toSeq
      val fin = spark.read.parquet(stateDir + "/report")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3))).sortBy(_._1).toSeq
      assert(fin == full, "final stream state != registered batch query")
    } finally q.stop()
  }

  test("G19: streaming markov matrix equals the batch pass over the prefix after every trigger") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // global (sec, event_id) order ⇒ every user's events arrive in order
    val ev = Tables(spark, sfDir).eventsSec
      .selectExpr("user_id", "sec", "event_id", "event_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(e => (e._2, e._3))
    val stateDir = java.nio.file.Files.createTempDirectory("g19").toString + "/state"
    val mem = MemoryStream[(Long, Long, Long, String)]
    val q = EventStreams.markovStream(
      mem.toDF().toDF("user_id", "sec", "event_id", "event_type"), stateDir)
    try {
      val third = (ev.length + 2) / 3
      var fed = Array.empty[(Long, Long, Long, String)]
      ev.grouped(third).foreach { slice =>
        mem.addData(slice.toIndexedSeq: _*); q.processAllAvailable()
        fed = fed ++ slice
        val streamed = spark.read.parquet(stateDir + "/report")
          .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
            r.getLong(3), r.getLong(4))).sortBy(t => (t._1, t._2)).toSeq
        val batch = graft.operators.Relational.markovAssemble(
            graft.operators.Relational.markovCountsOf(
              fed.toSeq.toDF("user_id", "sec", "event_id", "event_type")))
          .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
            r.getLong(3), r.getLong(4))).sortBy(t => (t._1, t._2)).toSeq
        assert(streamed == batch,
          s"stream/batch diverged at prefix ${fed.length}; first diff: ${
            streamed.zip(batch).find(p => p._1 != p._2)}")
      }
      // per-user state stays O(|users|): one stored row per user seen
      assert(spark.read.parquet(stateDir + "/last").count() ==
        fed.map(_._1).distinct.length.toLong)
      // and the final cumulative report equals the registered E35 query
      val full = graft.operators.Relational.qMarkovTransitions(spark, sfDir)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).sortBy(t => (t._1, t._2)).toSeq
      val fin = spark.read.parquet(stateDir + "/report")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).sortBy(t => (t._1, t._2)).toSeq
      assert(fin == full, "final stream state != registered batch query")
    } finally q.stop()
  }

  test("G21: streaming cusum over accumulated dailies equals the batch fold after every trigger") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // the planted shift series from the batch spec, fed day-sliced
    def series(name: String, delta: Long) =
      (1L to 20L).map(d => (name, d, 10000L + (if (d > 10) delta else 0L)))
    val all = (series("up", 900L) ++ series("down", -900L)).sortBy(_._2)
    val stateDir = java.nio.file.Files.createTempDirectory("g21").toString + "/state"
    val mem = MemoryStream[(String, Long, Long)]
    val q = EventStreams.foldStream(
      mem.toDF().toDF("source", "day", "md"), stateDir, CellFold.cusum)
    try {
      var fed = Seq.empty[(String, Long, Long)]
      all.grouped(14).foreach { slice =>
        mem.addData(slice.toIndexedSeq: _*); q.processAllAvailable()
        fed = fed ++ slice
        val streamed = spark.read.parquet(stateDir + "/report").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4), r.getLong(5), r.getInt(6)))
          .sortBy(t => (t._1, t._2)).toSeq
        val batch = graft.operators.LoadOps.cusumOver(
            fed.toDF("source", "day", "md"), 500L, 3000L).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
            r.getLong(4), r.getLong(5), r.getInt(6)))
          .sortBy(t => (t._1, t._2)).toSeq
        assert(streamed == batch,
          s"stream/batch diverged at prefix ${fed.length}")
      }
      // the final cumulative report carries the planted alarms
      val fin = spark.read.parquet(stateDir + "/report").collect()
        .map(r => (r.getString(0), r.getInt(6)))
      assert(fin.exists(t => t._1 == "up" && t._2 == 1), "up alarm lost in stream")
      assert(fin.exists(t => t._1 == "down" && t._2 == 1), "down alarm lost in stream")
    } finally q.stop()
  }

  test("G33: streaming page-hinkley equals the batch fold after every trigger, shift alarm survives") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // the planted step series from the batch spec, fed day-sliced
    def series(name: String, hi: Long) =
      (1L to 30L).map(d => (name, d, if (d > 15) hi else 10000L))
    val all = (series("step", 14000L) ++ series("flat", 10000L)).sortBy(_._2)
    val stateDir = java.nio.file.Files.createTempDirectory("g33").toString + "/state"
    val mem = MemoryStream[(String, Long, Long)]
    val q = EventStreams.foldStream(
      mem.toDF().toDF("source", "day", "md"), stateDir, CellFold.pageHinkley)
    try {
      var fed = Seq.empty[(String, Long, Long)]
      all.grouped(22).foreach { slice =>
        mem.addData(slice.toIndexedSeq: _*); q.processAllAvailable()
        fed = fed ++ slice
        val streamed = spark.read.parquet(stateDir + "/report").collect()
          .map(_.toSeq).toSeq.sortBy(r => (r.head.toString, r(1).asInstanceOf[Long]))
        val batch = graft.operators.LoadOps.pageHinkleyOver(
            fed.toDF("source", "day", "md"), 100L, 2000L).collect()
          .map(_.toSeq).toSeq.sortBy(r => (r.head.toString, r(1).asInstanceOf[Long]))
        assert(streamed == batch, s"stream/batch diverged at prefix ${fed.length}")
      }
      // the final cumulative report carries the planted alarm, and only it
      val fin = spark.read.parquet(stateDir + "/report").collect()
        .map(r => (r.getString(0), r.getInt(6)))
      assert(fin.exists(t => t._1 == "step" && t._2 == 1), "shift alarm lost in stream")
      assert(fin.filter(_._1 == "flat").forall(_._2 == 0), "constant series alarmed")
    } finally q.stop()
  }

  test("G34: streaming psi equals the batch pass after every trigger, planted shift alerts, state cell-bounded") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // 'shift' moves its whole mass to the top of the cent range in the
    // second half of a 20-day horizon; 'same' is stationary. Repeats
    // make the (source, day, cents) cells carry real counts.
    val rows = (0L until 20L).flatMap { d =>
      val sc = if (d < 10) Seq(100L, 110L) else Seq(900L, 910L)
      Seq.fill(3)(sc.map(c => ("shift", d, c))).flatten ++
        Seq(("same", d, 100L), ("same", d, 500L), ("same", d, 900L))
    }
    val stateDir = java.nio.file.Files.createTempDirectory("g34").toString + "/state"
    val mem = MemoryStream[(String, Long, Long)]
    val q = EventStreams.foldStream(
      mem.toDF().toDF("source", "day", "cents"), stateDir, CellFold.psi)
    try {
      var fed = Seq.empty[(String, Long, Long)]
      rows.grouped(rows.length / 4 + 1).foreach { slice =>
        mem.addData(slice.toIndexedSeq: _*); q.processAllAvailable()
        fed = fed ++ slice
        val streamed = spark.read.parquet(stateDir + "/report").collect()
          .map(_.toSeq).toSeq.sortBy(_.head.toString)
        val batch = graft.operators.LoadOps.psiOf(
            fed.toDF("source", "day", "cents")).collect()
          .map(_.toSeq).toSeq.sortBy(_.head.toString)
        assert(streamed == batch, s"stream/batch diverged at prefix ${fed.length}")
      }
      val fin = spark.read.parquet(stateDir + "/report").collect()
        .map(r => (r.getString(0), r.getDouble(3), r.getInt(4)))
      assert(fin.exists(t => t._1 == "shift" && t._3 == 1), "shift never alerted")
      val same = fin.find(_._1 == "same").get
      assert(same._3 == 0 && same._2 < 0.1, "stationary source alerted")
      // state is support-cell-bounded: at most |source × day × cents|
      // distinct combinations, NOT row-proportional (the 3x repeats
      // collapsed into counts)
      val stateRows = spark.read.parquet(stateDir + "/cells").count()
      val support = rows.distinct.size.toLong
      assert(stateRows == support,
        s"state $stateRows != support $support — cells not collapsing")
    } finally q.stop()
  }

  test("G35: streaming auc equals the batch rank pass after every trigger, state cell-bounded") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // a score that works ('good': positives high) and one that is noise
    // ('coin': labels independent of cents); repeats exercise the fold
    val rows = (0L until 40L).flatMap { i =>
      Seq.fill(2)(("good", 100L + i * 10L, if (i >= 20) 1L else 0L)) ++
        Seq(("coin", 100L + (i % 7L) * 50L, i % 2L))
    }
    val stateDir = java.nio.file.Files.createTempDirectory("g35").toString + "/state"
    val mem = MemoryStream[(String, Long, Long)]
    val q = EventStreams.foldStream(
      mem.toDF().toDF("source", "cents", "pos"), stateDir, CellFold.auc)
    try {
      var fed = Seq.empty[(String, Long, Long)]
      rows.grouped(rows.length / 4 + 1).foreach { slice =>
        mem.addData(slice.toIndexedSeq: _*); q.processAllAvailable()
        fed = fed ++ slice
        val streamed = spark.read.parquet(stateDir + "/report").collect()
          .map(_.toSeq).toSeq.sortBy(_.head.toString)
        val batch = graft.operators.Relational.aucRocOf(
            fed.toDF("source", "cents", "pos")).collect()
          .map(_.toSeq).toSeq.sortBy(_.head.toString)
        assert(streamed == batch, s"stream/batch diverged at prefix ${fed.length}")
      }
      val fin = spark.read.parquet(stateDir + "/report").collect()
        .map(r => (r.getString(0), r.getDouble(3))).toMap
      assert(fin("good") == 1.0, "clean separation must be AUC 1")
      assert(math.abs(fin("coin") - 0.5) < 0.2, "noise must hover at 0.5")
      val stateRows = spark.read.parquet(stateDir + "/cells").count()
      assert(stateRows == rows.map(t => (t._1, t._2)).distinct.size.toLong,
        "state must be (source, cents) support cells, not rows")
    } finally q.stop()
  }

  test("G36: streaming mann-kendall equals the batch pass after every trigger, trend pages in-stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // 'rise' trends up with within-day noise that the (sum, n) fold must
    // average out exactly; 'flat' is constant
    val rows = (1L to 30L).flatMap { d =>
      Seq(("rise", d, d * 100L), ("rise", d, d * 100L + 7L),
        ("flat", d, 500L), ("flat", d, 500L)) }
    val stateDir = java.nio.file.Files.createTempDirectory("g36").toString + "/state"
    val mem = MemoryStream[(String, Long, Long)]
    val q = EventStreams.foldStream(
      mem.toDF().toDF("source", "day", "cents"), stateDir, CellFold.mannKendall)
    try {
      var fed = Seq.empty[(String, Long, Long)]
      rows.grouped(rows.length / 4 + 1).foreach { slice =>
        mem.addData(slice.toIndexedSeq: _*); q.processAllAvailable()
        fed = fed ++ slice
        val streamed = spark.read.parquet(stateDir + "/report").collect()
          .map(_.toSeq).toSeq.sortBy(_.head.toString)
        val daily = fed.toDF("source", "day", "cents")
          .groupBy(col("source"), col("day"))
          .agg(org.apache.spark.sql.functions.expr("sum(cents) div count(*)").as("md"))
        val batch = graft.operators.LoadOps.mannKendallOf(daily).collect()
          .map(_.toSeq).toSeq.sortBy(_.head.toString)
        assert(streamed == batch, s"stream/batch diverged at prefix ${fed.length}")
      }
      val fin = spark.read.parquet(stateDir + "/report").collect()
        .map(r => r.getString(0) -> ((r.getInt(5),
          if (r.isNullAt(6)) -1 else r.getInt(6)))).toMap
      assert(fin("rise") == ((1, 1)), "monotone rise must page")
      assert(fin("flat")._2 == -1, "constant series must be NULL-significant")
    } finally q.stop()
  }

  test("G37: streaming srm equals the batch pass after every trigger, re-fed users add no units") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // 'ok' balanced; 'bad' all-even — and every user re-appears in later
    // slices (the unit-set union must not double-count)
    val rows = (1L to 30L).map(u => ("ok", u)) ++
      (1L to 20L).map(u => ("bad", u * 2L)) ++
      (1L to 30L).map(u => ("ok", u)) ++
      (1L to 20L).map(u => ("bad", u * 2L))
    val stateDir = java.nio.file.Files.createTempDirectory("g37").toString + "/state"
    val mem = MemoryStream[(String, Long)]
    val q = EventStreams.foldStream(
      mem.toDF().toDF("event_type", "user_id"), stateDir, CellFold.srm)
    try {
      var fed = Seq.empty[(String, Long)]
      rows.grouped(rows.length / 4 + 1).foreach { slice =>
        mem.addData(slice.toIndexedSeq: _*); q.processAllAvailable()
        fed = fed ++ slice
        val streamed = spark.read.parquet(stateDir + "/report").collect()
          .map(_.toSeq).toSeq.sortBy(_.head.toString)
        val batch = graft.operators.Relational.srmOf(
            fed.toDF("event_type", "user_id")).collect()
          .map(_.toSeq).toSeq.sortBy(_.head.toString)
        assert(streamed == batch, s"stream/batch diverged at prefix ${fed.length}")
      }
      val fin = spark.read.parquet(stateDir + "/report").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
          r.getInt(4)))).toMap
      assert(fin("ok") == ((15L, 15L, 0)), "balanced group paged")
      assert(fin("bad") == ((20L, 0L, 1)), "one-arm group must page")
      // the unit ledger carries exactly the distinct units, not the rows
      val stateRows = spark.read.parquet(stateDir + "/cells").count()
      assert(stateRows == rows.distinct.size.toLong,
        s"state $stateRows != distinct units ${rows.distinct.size}")
    } finally q.stop()
  }

  test("G38: streaming forecast backtest equals the batch pass after every trigger, skill regression pages") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // a smooth ramp Holt forecasts well (skillful), plus within-day noise
    // the moment fold must average exactly
    val rows = (1L to 72L).flatMap { d =>
      Seq(("ramp", d, d * 100L + 3L), ("ramp", d, d * 100L - 3L)) }
    val stateDir = java.nio.file.Files.createTempDirectory("g38").toString + "/state"
    val mem = MemoryStream[(String, Long, Long)]
    val q = EventStreams.foldStream(
      mem.toDF().toDF("source", "day", "cents"), stateDir, CellFold.forecastEval)
    try {
      var fed = Seq.empty[(String, Long, Long)]
      rows.grouped(rows.length / 4 + 1).foreach { slice =>
        mem.addData(slice.toIndexedSeq: _*); q.processAllAvailable()
        fed = fed ++ slice
        val streamed = spark.read.parquet(stateDir + "/report").collect()
          .map(_.toSeq).toSeq.sortBy(_.head.toString)
        val daily = fed.toDF("source", "day", "cents")
          .groupBy(col("source"), col("day"))
          .agg(org.apache.spark.sql.functions.expr("sum(cents) div count(*)").as("md"))
        val batch = graft.operators.LoadOps.forecastEvalOver(
            graft.operators.LoadOps.holtOver(daily, 300000L, 100000L, 500L, 8))
          .collect().map(_.toSeq).toSeq.sortBy(_.head.toString)
        assert(streamed == batch, s"stream/batch diverged at prefix ${fed.length}")
      }
      val fin = spark.read.parquet(stateDir + "/report").collect()(0)
      assert(fin.getInt(7) == 1, "Holt must beat persistence on a ramp")
    } finally q.stop()
  }

  test("G39: streaming calibration equals the batch diagram after every trigger, shares the G35 state grain") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // percentile-spread cents with mixed labels; repeats exercise the fold
    val rows = (0L until 50L).flatMap { i =>
      Seq.fill(2)(("m", i * 20L, i % 3L match { case 0 => 1L; case _ => 0L }))
    }
    val stateDir = java.nio.file.Files.createTempDirectory("g39").toString + "/state"
    val mem = MemoryStream[(String, Long, Long)]
    val q = EventStreams.foldStream(
      mem.toDF().toDF("source", "cents", "pos"), stateDir, CellFold.calibration)
    try {
      var fed = Seq.empty[(String, Long, Long)]
      rows.grouped(rows.length / 4 + 1).foreach { slice =>
        mem.addData(slice.toIndexedSeq: _*); q.processAllAvailable()
        fed = fed ++ slice
        val streamed = spark.read.parquet(stateDir + "/report").collect()
          .map(_.toSeq).toSeq.sortBy(r => (r.head.toString, r(1).asInstanceOf[Long]))
        val batch = graft.operators.LoadOps.calibrationOf(
            fed.toDF("source", "cents", "pos")).collect()
          .map(_.toSeq).toSeq.sortBy(r => (r.head.toString, r(1).asInstanceOf[Long]))
        assert(streamed == batch, s"stream/batch diverged at prefix ${fed.length}")
      }
      // the final diagram partitions the corpus and stays on the grid
      val fin = spark.read.parquet(stateDir + "/report").collect()
      assert(fin.map(_.getLong(2)).sum == rows.length.toLong,
        "bins must partition the corpus")
      assert(fin.forall(r => r.getLong(1) >= 0L && r.getLong(1) <= 9L))
      val stateRows = spark.read.parquet(stateDir + "/cells").count()
      assert(stateRows == rows.map(t => (t._1, t._2)).distinct.size.toLong,
        "state must be the (source, cents) support — the G35 grain")
    } finally q.stop()
  }

  test("G26: chi2 cell ledger stays sources×24-bounded at any horizon, equals the frozen-baseline batch pass") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // 120-day horizon, two sources: 'a' keeps one hour profile for the
    // whole stream, 'b' moves its traffic 8 hours after day 60 — the
    // daypart shift the chi-square monitor exists to flag
    def secOf(day: Long, hour: Long) = day * 86400L + hour * 3600L + day % 59
    val rows = (0L until 120L).flatMap { d =>
      val bH = if (d < 60) Seq(2L, 6L) else Seq(10L, 14L)
      Seq(1L, 5L, 9L).map(h => ("a", secOf(d, h))) ++ bH.map(h => ("b", secOf(d, h)))
    }
    val full = rows.toDF("event_type", "sec")
    // the frozen baseline = each source's corpus time midpoint (the
    // gate's configuration, which makes the final report equal D47)
    val baseline = full.groupBy(col("event_type"))
      .agg(expr("min(sec) + (max(sec) - min(sec)) div 2").as("ref_end_sec"))
      .localCheckpoint(true)
    val stateDir = java.nio.file.Files.createTempDirectory("g26").toString + "/state"
    val mem = MemoryStream[(String, Long)]
    val q = EventStreams.foldStream(
      mem.toDF().toDF("event_type", "sec"), stateDir, CellFold.chi2(baseline))
    try {
      var fed = Seq.empty[(String, Long)]
      rows.grouped(rows.length / 4 + 1).foreach { slice =>
        mem.addData(slice.toIndexedSeq: _*); q.processAllAvailable()
        fed = fed ++ slice
        // the persisted state is ≤ sources×24 cells NO MATTER how far
        // the horizon has advanced (the r13 per-second grain grew
        // linearly with wall time — this is the regression pin)
        assert(spark.read.parquet(stateDir + "/cells").count() <= 2L * 24L,
          "cell ledger exceeded sources×24")
        // and the report equals the batch fold over the prefix with the
        // SAME frozen split after every trigger
        val cells = fed.toDF("event_type", "sec")
          .join(broadcast(baseline), Seq("event_type"))
          .groupBy(col("event_type"),
            expr("(sec div 3600) % 24").cast("long").as("hour"))
          .agg(sum(when(col("sec") <= col("ref_end_sec"), 1L).otherwise(0L))
              .cast("long").as("o_r"),
            sum(when(col("sec") > col("ref_end_sec"), 1L).otherwise(0L))
              .cast("long").as("o_c"))
        val want = graft.operators.LoadOps.chi2FromHourCells(cells)
          .collect().map(_.toSeq).toSeq
        val got = spark.read.parquet(stateDir + "/report")
          .orderBy(col("event_type")).collect().map(_.toSeq).toSeq
        assert(got == want, s"stream/batch diverged at prefix ${fed.length}")
      }
      // final report == the one-shot D47 pass bit-for-bit: the frozen
      // baseline IS the corpus midpoint, so the two splits coincide
      val fin = spark.read.parquet(stateDir + "/report")
        .orderBy(col("event_type")).collect().map(_.toSeq).toSeq
      val batch = graft.operators.LoadOps.chi2Of(full).collect().map(_.toSeq).toSeq
      assert(fin == batch, "final report must equal the batch D47 pass")
      val verdicts = fin.map(r => (r.head, r.last)).toMap
      assert(verdicts("a") == 0, s"stable profile must not flag: $fin")
      assert(verdicts("b") == 1, s"daypart shift must flag: $fin")
    } finally q.stop()
  }

  test("G20: streaming ab test from integer cent-moments equals the batch pass bit-for-bit every trigger") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ev = Tables(spark, sfDir).events
      .selectExpr("event_type", "user_id", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val stateDir = java.nio.file.Files.createTempDirectory("g20").toString + "/state"
    val mem = MemoryStream[(String, Long, Double)]
    val q = EventStreams.foldStream(
      mem.toDF().toDF("event_type", "user_id", "value"), stateDir, CellFold.abtest)
    try {
      val third = (ev.length + 2) / 3
      var fed = Array.empty[(String, Long, Double)]
      ev.grouped(third).foreach { slice =>
        mem.addData(slice.toIndexedSeq: _*); q.processAllAvailable()
        fed = fed ++ slice
        val streamed = spark.read.parquet(stateDir + "/report").collect()
          .map(_.toSeq).sortBy(_.head.toString).toSeq
        val batch = graft.operators.Relational.abTtestFromCents(
            graft.operators.Relational.abCentMomentsOf(
              fed.toSeq.toDF("event_type", "user_id", "value"))).collect()
          .map(_.toSeq).sortBy(_.head.toString).toSeq
        assert(streamed == batch,
          s"stream/batch diverged at prefix ${fed.length}: ${
            streamed.zip(batch).find(p => p._1 != p._2)}")
        // arm counts always cover the prefix exactly
        assert(streamed.map(r => r(1).asInstanceOf[Long] + r(2).asInstanceOf[Long]).sum
          == fed.length.toLong)
      }
      // the integer-moment verdict agrees with the registered E36 query's
      // verdict on the full corpus (same rounded-inputs contract)
      val viaMoments = spark.read.parquet(stateDir + "/report").collect()
        .map(r => (r.getString(0), r.getInt(8))).sortBy(_._1).toSeq
      val direct = graft.operators.Relational.qAbTtest(spark, sfDir).collect()
        .map(r => (r.getString(0), r.getInt(8))).sortBy(_._1).toSeq
      assert(viaMoments == direct, "moment-path verdict != var_samp-path verdict")
    } finally q.stop()
  }

  test("G18: streaming embedding drift from accumulated moments equals the batch pass after every trigger") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val vecs = graft.operators.Similarity.vectors(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2)))
      .sortBy(_._1)
    val stateDir = java.nio.file.Files.createTempDirectory("g18").toString + "/state"
    val mem = MemoryStream[(Long, Int, Seq[Double])]
    val q = EventStreams.foldStream(
      mem.toDF().toDF("vec_id", "label", "v"), stateDir, CellFold.drift)
    try {
      val third = (vecs.length + 2) / 3
      var fed = Array.empty[(Long, Int, Seq[Double])]
      vecs.grouped(third).foreach { slice =>
        mem.addData(slice.toIndexedSeq: _*); q.processAllAvailable()
        fed = fed ++ slice
        val streamed = spark.read.parquet(stateDir + "/report")
          .collect().map(_.toSeq).sortBy(_.head.toString.toLong)
        val schema = StructType(Seq(StructField("vec_id", LongType),
          StructField("label", IntegerType),
          StructField("v", ArrayType(DoubleType))))
        val batchDf = spark.createDataFrame(
          spark.sparkContext.parallelize(fed.toIndexedSeq.map(t => Row(t._1, t._2, t._3))), schema)
        val batch = graft.operators.Similarity.embeddingDriftOf(batchDf, bar = 0.8)
          .collect().map(_.toSeq).sortBy(_.head.toString.toLong)
        assert(streamed.toSeq == batch.toSeq,
          s"stream/batch diverged after ${fed.length} rows")
      }
    } finally q.stop()
  }

  test("G17: streaming novelty over ordered batches equals the batch pass, ledger holds the gram set") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables(spark, sfDir).documents.select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val stateDir = java.nio.file.Files.createTempDirectory("g17").toString + "/state"
    val mem = MemoryStream[(Long, String)]
    // compactEvery=2: the three slices exercise compaction + a live delta
    val q = EventStreams.noveltyStream(mem.toDF().toDF("doc_id", "text"), stateDir,
      compactEvery = 2)
    try {
      val third = (docs.length + 2) / 3
      docs.grouped(third).foreach { slice =>
        mem.addData(slice.toIndexedSeq: _*); q.processAllAvailable()
      }
      val streamed = spark.read.parquet(stateDir + "/report")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
      val batch = graft.operators.TextAnalysis.textNovelty(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
      assert(streamed == batch,
        s"stream/batch diverged; first diff: ${streamed.zip(batch).find(p => p._1 != p._2)}")
      // the ledger (base ∪ deltas) holds exactly the corpus's gram set
      val nGrams = EventStreams.readLedger(spark, stateDir + "/seen").get.count()
      val expGrams = Tables(spark, sfDir).documents
        .select(explode(graft.operators.TextAnalysis.wordGrams(
          graft.operators.TextAnalysis.tokens(col("text")), 8)).as("g"))
        .select(org.apache.spark.sql.functions.xxhash64(col("g"))).distinct().count()
      assert(nGrams == expGrams, s"ledger $nGrams != corpus grams $expGrams")
    } finally q.stop()
  }

  test("G16: streaming constraint monitor's cumulative report equals the batch pass under slicing") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.LineRow
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"))
      .as[LineRow].collect()
    val mem = MemoryStream[LineRow]
    val q = EventStreams.constraintMonitorStream(mem.toDS().toDF())
      .writeStream.outputMode("complete").format("memory").queryName("g16_out").start()
    try {
      // three arbitrary slices; after EACH trigger the report must equal
      // the batch pass over the prefix fed so far — the streaming agg
      // carries counts AND the min offending key across batches
      val cuts = Seq(li.take(li.length / 3),
        li.slice(li.length / 3, 2 * li.length / 3),
        li.drop(2 * li.length / 3))
      var fed = Array.empty[LineRow]
      cuts.foreach { c =>
        mem.addData(c.toIndexedSeq: _*); q.processAllAvailable()
        fed = fed ++ c
        val streamed = spark.table("g16_out").collect()
          .map(_.toSeq).sortBy(_.head.toString)
        val batch = graft.operators.LoadOps.checkConstraintsOf(
            spark.createDataFrame(fed.toIndexedSeq)).collect()
          .map(_.toSeq).sortBy(_.head.toString)
        assert(streamed.toSeq == batch.toSeq,
          s"stream/batch diverged after ${fed.length} rows")
      }
      // non-degeneracy: the full feed has both violated and clean rules
      val fin = spark.table("g16_out").collect().map(r => r.getLong(2))
      assert(fin.exists(_ > 0L) && fin.exists(_ == 0L))
    } finally q.stop()
  }

  test("G22: streaming seasonal monitor equals the batch pass after every trigger, days split mid-batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // per-(source, day) events whose daily means carry a weekday period
    // plus a late flat shift; slices deliberately CUT days in half so
    // the moment state must fold partial days correctly
    val ev = for {
      d <- 0L to 27L; i <- 0L until 4L
    } yield ("wk", d, 10000L + (if (d % 7 == 0) 480L else 0L) +
        (if (d >= 21L) 400L else 0L) + (if (i % 2 == 0) 3L else -3L))
    val stateDir = java.nio.file.Files.createTempDirectory("g22").toString + "/state"
    val mem = MemoryStream[(String, Long, Long)]
    val q = EventStreams.foldStream(
      mem.toDF().toDF("source", "day", "cents"), stateDir,
      CellFold.seasonal(trainDays = 14L))
    try {
      var fed = Seq.empty[(String, Long, Long)]
      ev.grouped(45).foreach { slice =>
        mem.addData(slice.toIndexedSeq: _*); q.processAllAvailable()
        fed = fed ++ slice
        val streamed = spark.read.parquet(stateDir + "/report").collect()
          .map(_.toSeq).sortBy(r => (r.head.toString, r(1).asInstanceOf[Long])).toSeq
        val daily = fed.toDF("source", "day", "cents")
          .groupBy($"source", $"day")
          .agg(org.apache.spark.sql.functions.expr("sum(cents) div count(*)").as("md"))
        val batch = graft.operators.LoadOps.seasonalOf(daily, 14L, 150L).collect()
          .map(_.toSeq).sortBy(r => (r.head.toString, r(1).asInstanceOf[Long])).toSeq
        assert(streamed == batch, s"stream/batch diverged at prefix ${fed.length}")
      }
      // the final report alarms on the shifted days and not the periodic ones
      val fin = spark.read.parquet(stateDir + "/report").collect()
        .map(r => (r.getLong(1), r.getString(6)))
      assert(fin.filter(_._1 >= 21L).forall(_._2 == "alert"), s"shift missed: ${fin.toSeq}")
      assert(fin.filter(t => t._1 >= 14L && t._1 < 21L).forall(_._2 == "ok"),
        s"periodic days must judge clean: ${fin.toSeq}")
    } finally q.stop()
  }

  test("G24: streaming holt forecast equals the batch fold after every trigger, step alarm survives") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // the batch spec's ramp + step series, fed as per-day events split
    // mid-day so the moment state must fold partials
    val ev = for {
      d <- 1L to 25L; i <- 0L until 2L
      (src, base) <- Seq(("ramp", 10000L + d * 100L),
        ("step", if (d >= 15L) 12000L else 10000L))
    } yield (src, d, base + (if (i == 0) 5L else -5L))
    val stateDir = java.nio.file.Files.createTempDirectory("g24").toString + "/state"
    val mem = MemoryStream[(String, Long, Long)]
    val q = EventStreams.foldStream(
      mem.toDF().toDF("source", "day", "cents"), stateDir, CellFold.holt)
    try {
      var fed = Seq.empty[(String, Long, Long)]
      ev.grouped(33).foreach { slice =>
        mem.addData(slice.toIndexedSeq: _*); q.processAllAvailable()
        fed = fed ++ slice
        val streamed = spark.read.parquet(stateDir + "/report").collect()
          .map(_.toSeq).sortBy(r => (r.head.toString, r(1).asInstanceOf[Long])).toSeq
        val daily = fed.toDF("source", "day", "cents")
          .groupBy($"source", $"day")
          .agg(org.apache.spark.sql.functions.expr("sum(cents) div count(*)").as("md"))
        val batch = graft.operators.LoadOps.holtOver(daily, 300000L, 100000L, 500L, 8)
          .collect()
          .map(_.toSeq).sortBy(r => (r.head.toString, r(1).asInstanceOf[Long])).toSeq
        assert(streamed == batch, s"stream/batch diverged at prefix ${fed.length}")
      }
      val fin = spark.read.parquet(stateDir + "/report").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(7)))
      assert(fin.filter(_._1 == "ramp").forall(_._3 == 0), "ramp paged in stream")
      assert(fin.exists(t => t._1 == "step" && t._2 == 15L && t._3 == 1),
        "step alarm lost in stream")
    } finally q.stop()
  }

  test("G25: streaming heavy hitters equals the exact batch verdict after every trigger") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ids = Tables(spark, sfDir).events
      .selectExpr("cast(user_id as long)").collect().map(_.getLong(0))
    val stateDir = java.nio.file.Files.createTempDirectory("g25").toString + "/state"
    val mem = MemoryStream[Long]
    val q = EventStreams.foldStream(mem.toDF().toDF("user_id"), stateDir, CellFold.heavyHitters)
    try {
      var fed = Array.empty[Long]
      ids.grouped((ids.length + 2) / 3).foreach { slice =>
        mem.addData(slice.toIndexedSeq: _*); q.processAllAvailable()
        fed = fed ++ slice
        val streamed = spark.read.parquet(stateDir + "/report").collect()
          .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
        val exact = fed.groupBy(identity).view.mapValues(_.length.toLong).toSeq
          .filter(_._2 > fed.length.toDouble / 150).sortBy(_._1)
          .map { case (u, n) => (u, n) }
        assert(streamed == exact, s"stream/batch diverged at prefix ${fed.length}")
      }
      // the final cumulative report equals the registered two-pass E29 op
      val fin = spark.read.parquet(stateDir + "/report").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      val batch = graft.operators.Relational.qHeavyHitters(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(fin == batch, "stream final != two-pass MG batch op")
      assert(fin.nonEmpty, "no heavy keys in the corpus — threshold tells nothing")
    } finally q.stop()
  }

  test("G23: streaming benford screen equals the batch verdict after every trigger") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // conforming mass for one source, uniform digits for the other,
    // interleaved so early prefixes see skewed partial counts
    val conf = Seq(301, 176, 125, 97, 79, 67, 58, 51, 46).zipWithIndex.flatMap {
      case (n, i) => (0 until n).map(_ => ("conf", (i + 1) * 100L)) }
    val unif = (1 to 9).flatMap(d => (0 until 100).map(_ => ("unif", d * 100L)))
    val all = conf.zipAll(unif, ("conf", 100L), ("unif", 100L))
      .flatMap(p => Seq(p._1, p._2))
    val stateDir = java.nio.file.Files.createTempDirectory("g23").toString + "/state"
    val mem = MemoryStream[(String, Long)]
    val q = EventStreams.foldStream(
      mem.toDF().toDF("source", "cents"), stateDir, CellFold.benford)
    try {
      var fed = Seq.empty[(String, Long)]
      all.grouped(700).foreach { slice =>
        mem.addData(slice.toIndexedSeq: _*); q.processAllAvailable()
        fed = fed ++ slice
        val streamed = spark.read.parquet(stateDir + "/report").collect()
          .map(_.toSeq).sortBy(r => (r.head.toString, r(1).asInstanceOf[Int])).toSeq
        val batch = graft.operators.LoadOps.benfordOf(
            fed.toDF("source", "cents"), 50000L).collect()
          .map(_.toSeq).sortBy(r => (r.head.toString, r(1).asInstanceOf[Int])).toSeq
        assert(streamed == batch, s"stream/batch diverged at prefix ${fed.length}")
      }
      val fin = spark.read.parquet(stateDir + "/report").collect()
        .map(r => (r.getString(0), r.getInt(7))).distinct.sorted.toSeq
      assert(fin == Seq(("conf", 0), ("unif", 1)), s"final verdicts wrong: $fin")
    } finally q.stop()
  }

  test("appendLedger: epoch namespacing survives a checkpoint reset; compaction is size-tiered") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("ledger").toString + "/seen"
    // incompressible 32-char hashes so parquet byte size tracks row count
    // (the size-ratio triggers compare BYTES, and sequential longs would
    // compress the base below the per-file overhead of a tiny delta)
    def h(i: Int) = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(i.toString.getBytes).map("%02x".format(_)).mkString
    }
    def rows(r: Range) = r.map(h).toDF("h")
    def hs(r: Range) = r.map(h).toSet
    def deltaCount = EventStreams.ledgerDeltaDirs(spark, root).length
    def ledgerIds = EventStreams.readLedger(spark, root).get
      .collect().map(_.getString(0)).toSet
    // run 1, batch 0: no base yet — the deltas outweigh it, so the fold
    // into a base happens immediately (majors are cheap while small)
    EventStreams.appendLedger(rows(0 until 1000), root, 0L, 4, "run1")
    assert(deltaCount == 0 && ledgerIds == hs(0 until 1000))
    // run 1, batch 1: a small delta next to a big base stays a delta —
    // rewriting a 1000-row base for 5 new rows is the r12 quadratic shape
    EventStreams.appendLedger(rows(1000 until 1005), root, 1L, 4, "run1")
    assert(deltaCount == 1, "small delta must not trigger a base rewrite")
    assert(spark.read.parquet(root).count() == 1000L, "base must be untouched")
    // RESTART against the same stateDir with a fresh checkpoint: batchIds
    // reset, so a batchId-1 delta arrives AGAIN — the r13 batchId-only
    // naming overwrote run1's d1 here, silently dropping its hashes
    EventStreams.appendLedger(rows(2000 until 2005), root, 1L, 4, "run2")
    assert((hs(1000 until 1005) ++ hs(2000 until 2005)).subsetOf(ledgerIds),
      "a checkpoint reset clobbered an earlier epoch's uncompacted delta")
    // two more small deltas hit the fan-in cap (compactEvery=4) without
    // the size ratio: a MINOR merge folds the smallest dirs into one and
    // still leaves the base alone
    EventStreams.appendLedger(rows(3000 until 3005), root, 2L, 4, "run2")
    EventStreams.appendLedger(rows(4000 until 4005), root, 3L, 4, "run2")
    assert(deltaCount < 4, s"minor merge must cap delta fan-in: $deltaCount dirs")
    assert(spark.read.parquet(root).count() == 1000L,
      "minor merge must not rewrite the base")
    assert(ledgerIds == hs(0 until 1000) ++ hs(1000 until 1005) ++
      hs(2000 until 2005) ++ hs(3000 until 3005) ++ hs(4000 until 4005),
      "ledger lost rows across epochs/merges")
    // a delta batch as big as the base triggers the MAJOR fold: the base
    // at least doubles per major, so lifetime major I/O is O(corpus)
    EventStreams.appendLedger(rows(5000 until 7000), root, 4L, 4, "run2")
    assert(deltaCount == 0, "a base-sized delta must trigger the major fold")
    assert(spark.read.parquet(root).count() == 3020L,
      "major fold must absorb every delta exactly once")
  }

  test("state publish is crash-safe: every interruption point leaves a readable generation") {
    import org.apache.hadoop.fs.Path
    val tmp = java.nio.file.Files.createTempDirectory("statepub").toString
    val dir = s"$tmp/counts"
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def gen(n: Int) = Seq((n, n * 10L)).toDF("gen", "v")
    def readGen(): Int = EventStreams.readState(spark, dir)
      .map(_.select(col("gen")).head().getInt(0))
      .getOrElse(sys.error("no state generation recoverable"))
    // normal path: publish g1 then g2, read back g2
    EventStreams.publishState(gen(1), dir)
    assert(readGen() == 1)
    EventStreams.publishState(gen(2), dir)
    assert(readGen() == 2)
    // crash DURING the .next write: partial dir without _SUCCESS must be
    // ignored, current generation survives
    val next = new Path(dir + ".next")
    fs.mkdirs(next)
    val out = fs.create(new Path(next, "part-00000.parquet")); out.write(1); out.close()
    assert(readGen() == 2, "partial .next must never be trusted")
    fs.delete(next, true)
    // crash BETWEEN set-aside and promote: cur renamed to .prev, complete
    // .next exists — the old delete-then-rename shape lost everything here
    gen(3).write.mode("overwrite").parquet(next.toString)
    assert(fs.rename(new Path(dir), new Path(dir + ".prev")))
    assert(readGen() == 3, "complete .next with _SUCCESS must be recovered")
    // crash AFTER set-aside with NO complete next (no _SUCCESS): fall back
    // to the .prev backup
    fs.delete(new Path(next, "_SUCCESS"), false)
    assert(readGen() == 2, ".prev backup must be recovered when .next is incomplete")
    // recovery resumes publishing on top of whatever generation survived
    EventStreams.publishState(gen(4), dir)
    assert(readGen() == 4)
    assert(!fs.exists(new Path(dir + ".prev")) && !fs.exists(next),
      "publish must clean up its transient generations")
  }

  test("sketch stream gates equal their batch operators row-for-row (G5-G8)") {
    // the promotion claim in one assertion per sketch: the multi-batch
    // streaming fold ends at the SAME report frame the batch op builds —
    // merge associativity + order independence, end-to-end through the
    // state store, not just at the aggregate-algebra level
    import graft.streaming.StreamGate
    import graft.operators.Relational
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    assert(rows(StreamGate.streamCms(spark, sfDir)) ==
      rows(Relational.qCmsSketch(spark, sfDir)), "CMS stream != batch")
    assert(rows(StreamGate.streamHll(spark, sfDir)) ==
      rows(Relational.qHllSketch(spark, sfDir)), "HLL stream != batch")
    assert(rows(StreamGate.streamQuantile(spark, sfDir)) ==
      rows(Relational.qQuantileSketch(spark, sfDir)), "quantile stream != batch")
    assert(rows(StreamGate.streamBloom(spark, sfDir)) ==
      rows(Relational.qBloomPruneJoin(spark, sfDir)), "bloom stream != batch")
  }
}
