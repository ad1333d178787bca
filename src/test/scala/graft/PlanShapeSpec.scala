package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions for the headline queries: the properties
  * that matter at 100 TB (pushdown reaches the scan, dims broadcast, agg
  * has a map-side partial, top-k avoids a full sort) must not silently
  * regress as operators evolve. */
class PlanShapeSpec extends AnyFunSuite with SparkTestBase {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("q6: filters reach the parquet scan") {
    // the PushedFilters list is truncated in the plan string, so assert
    // the visible prefix (the range predicates follow the null checks)
    val p = plan("q6_filter_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), s"no pushdown:\n$p")
  }

  test("src_parquet_pruned: projection pruned to the read schema") {
    val p = plan("src_parquet_pruned")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber"),
      s"scan reads more than the projection:\n$p")
  }

  test("q5: dimension joins broadcast, no shuffle of the dims") {
    val p = plan("q5_multi_join")
    assert(p.contains("BroadcastHashJoin"), s"dims not broadcast:\n$p")
  }

  test("q1: aggregation is partial (map-side combine) before the exchange") {
    val p = plan("q1_agg")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"),
      s"no partial aggregation:\n$p")
    assert(p.contains("partial_"), s"no map-side combine:\n$p")
  }

  test("ann_topk: bounded top-k, not a global sort") {
    val p = plan("ann_topk")
    assert(p.contains("TakeOrderedAndProject"), s"full sort for top-k:\n$p")
  }

  test("whole-stage codegen spans the similarity hot path") {
    // AQE finalizes (and codegen-collapses) the plan only at execution;
    // run the query, then read the final adaptive plan's "*(n)" markers
    val df = SparkEntry.queries("neardup_cosine")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), s"plan did not finalize:\n${p.take(300)}")
    assert(p.contains("*("), s"no whole-stage codegen span:\n$p")
    assert(!p.contains("BatchEvalPython"), "python in the hot path")
  }

  test("partitioned load: ranged re-read prunes to the requested batches") {
    val df = graft.operators.LoadOps.partitionedPrune(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [") && p.contains("oid_batch"),
      s"no partition pruning:\n$p")
    // only 3 of 16 partition directories should survive pruning
    assert(df.count() == 3)
  }

  test("bloom index: lookups prune partitions, never miss, absent key probes ~nothing") {
    val ops = graft.operators.LoadOps
    // build layout + index, serve the default probes (3 present, 1 absent)
    val df = ops.bloomIndex(spark, sfDir)
    df.collect()
    // the data scan is partition-pruned by the bloom candidates
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [") && p.contains("supp_batch"),
      s"no partition pruning:\n$p")
    // no false negatives: pruned lookups equal the straight source scan
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = Tables(spark, sfDir).lineitem
      .filter(col("l_orderkey").isin(42L, 7777L, 9988L, 1000000000L))
      .groupBy("l_orderkey").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == want, s"$got vs $want")
    // pruning telemetry from the persisted index: a present key admits
    // only its true partitions (+FPR); the absent key admits ~none
    val idxPath = Tables.scratch(spark, "graft_bloomidx/index")
    val present = ops.bloomIndexCandidates(spark, idxPath, 42L)
    assert(present.nonEmpty && present.size < 16,
      s"present-key candidates not pruned: $present")
    val absent = ops.bloomIndexCandidates(spark, idxPath, 1000000000L)
    assert(absent.size <= 1, s"absent-key candidates too wide: $absent")
    // empty-candidate serve path: a probe set of only-absent keys
    val layout = Tables.scratch(spark, "graft_bloomidx/lineitem")
    val none = ops.serveBloomLookups(spark, layout, idxPath, Seq(999999999L))
    assert(none.collect().isEmpty)
  }

  test("xml gate: single codegen'd pass, no shuffle before the partial agg") {
    val df = SparkEntry.queries("etl_xml_validate")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("partial_"), s"no map-side combine:\n$p")
    assert(!p.contains("BatchEvalPython") && p.contains("*("),
      s"gate predicates fell out of whole-stage codegen:\n$p")
    // only the agg shuffle + the output-sort range exchange — the
    // occurrence counting itself must be per-row, shuffle-free. Count in
    // the FINAL adaptive plan only (the string repeats the initial plan).
    val finalPlan = p.split("== Initial Plan ==").head
    val exchanges = "Exchange".r.findAllIn(finalPlan).size
    assert(exchanges <= 2, s"unexpected shuffles in a per-row gate:\n$p")
  }

  test("batch ivf: probe pairs broadcast, candidates never cartesian") {
    val df = graft.operators.Similarity.ivfAnnBatch(spark, sfDir, queryMod = 20L)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the CANDIDATE join (lists ⋈ probes on list_id) must hash-join with
    // the tiny probe side broadcast — "BroadcastHashJoin" is that join
    // specifically (the probe-selection stage is a BroadcastNestedLoopJoin,
    // a different node, so this assert cannot be satisfied by it) — and
    // the big lists scan must never be sort-merge-shuffled or cartesian'd
    assert(p.contains("BroadcastHashJoin"),
      s"candidate join not a broadcast hash join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"big lists side got shuffled into a sort-merge join:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"candidate fetch degenerated to a cartesian product:\n$p")
  }

  test("ivf query probes the persisted lists via partition pruning") {
    // the index is a one-time layout; a query's scan must carry the
    // list_id PartitionFilters (probe nprobe directories, not the corpus)
    val df = graft.operators.Similarity.ivfAnn(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [") && p.contains("list_id"),
      s"ivf probe did not prune partitions:\n$p")
    // a second invocation must REUSE the layout (no assignment recompute):
    // trainQuantizer's posexplode agg would show as an extra job — assert
    // via the stamp file remaining untouched
    val root = graft.io.Artifacts.root(spark, "ivf", sfDir)
    val stampBefore = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(s"$root/_GRAFT_STAMP"))
    graft.operators.Similarity.ivfAnn(spark, sfDir).collect()
    val stampAfter = java.nio.file.Files.getLastModifiedTime(
      java.nio.file.Paths.get(s"$root/_GRAFT_STAMP"))
    assert(stampBefore == stampAfter, "second query rebuilt the index")
  }

  test("orc round-trip: predicate pushes into the ORC reader, read schema prunes") {
    val p = plan("src_orc_roundtrip")
    assert(p.contains("Format: ORC"), s"re-read is not the ORC reader:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThanOrEqual(l_quantity,25.0)"),
      s"quantity predicate did not reach the ORC reader:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double,l_returnflag:string"),
      s"ORC scan reads more than the projection:\n$p")
  }

  test("pq-adc: bounded candidate heap, broadcast rescore join, no shuffle joins") {
    val p = plan("ann_pq_adc")
    // ADC cut and final cut are both bounded top-k heaps, and the 60-row
    // candidate set broadcasts into the rescore join — never a shuffle
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 2,
      s"ADC/final cuts are not bounded heaps:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"rescore join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"rescore join shuffled or exploded:\n$p")
    // the codes are READ from the persisted IVF layout, never re-encoded:
    // pqEncode's argmin leaves an array_position signature in the plan —
    // its absence plus a codes-only ReadSchema proves the candidate scan
    // serves from persisted codes (v skipped: in file-schema order v
    // precedes code_0, so a schema whose second field is code_0 pruned it)
    assert(!p.contains("array_position"),
      s"candidate codes were re-encoded (pqEncode subtree in plan):\n$p")
    assert(p.contains("ReadSchema: struct<vec_id:bigint,code_0:int"),
      s"no codes-only candidate scan:\n$p")
  }

  test("perf outliers: one scan, map-side partials, no join or window") {
    val p = plan("mon_perf_outliers")
    assert("Scan parquet".r.findAllIn(p).size == 1, s"more than one scan:\n$p")
    assert(p.contains("partial_sum"), s"no map-side partial aggregation:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"detect_patterns rollup must be a pure aggregate:\n$p")
  }

  test("scd2: one key-shuffle join, pruned scans, row expansion after the join") {
    val p = plan("load_scd2")
    // both sides shuffle once on the merge key into one full-outer SMJ;
    // the per-key row expansion (Generate) runs on the join output — no
    // self-union re-reading the source, no broadcast of a data-sized side
    assert("(SortMergeJoin|ShuffledHashJoin).*FullOuter".r.findFirstIn(p).isDefined,
      s"merge is not a shuffled full-outer join:\n$p")
    assert(p.contains("Generate"), s"no per-key row expansion in plan:\n$p")
    assert("Scan parquet".r.findAllIn(p).size == 2, s"extra source scans:\n$p")
    assert(p.contains("ReadSchema: struct<c_custkey:bigint,c_mktsegment:string>"),
      s"scan reads more than the merge columns:\n$p")
  }

  test("url dedup: per-row canonicalization, single hash-agg, no join") {
    val p = plan("dedup_url")
    assert("Scan parquet".r.findAllIn(p).size == 1, s"more than one scan:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_"),
      s"no map-side partial aggregation:\n$p")
    assert(!p.contains("Join"), s"canonicalization must not join:\n$p")
  }

  test("domain mix: the totals branch reads the checkpointed rollup, not the corpus") {
    val p = plan("sample_domain_mix")
    // ONE corpus scan: per-source rollup is checkpointed (|sources| rows)
    // and the 1-row totals derive from those rows
    assert("Scan parquet".r.findAllIn(p).size == 0 ||
      "Scan parquet".r.findAllIn(p).size == 1,
      s"totals branch re-scanned the corpus:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"1-row totals must broadcast:\n$p")
  }

  test("ccnet buckets: per-language ranking never collapses to a single-task window") {
    val p = plan("text_ccnet_buckets")
    // the rank window is partitioned by (lang, score-range-chunk) — a
    // SinglePartition exchange would mean the per-language sort funneled
    assert(!p.contains("SinglePartition"),
      s"per-language ntile collapsed to a single-task window:\n$p")
  }

  test("interval join: grid-cell equi join, never a nested-loop cartesian") {
    val p = plan("q_interval_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"keyless overlap join fell back to a quadratic plan:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"no equi join on the grid cell:\n$p")
  }

  test("substring dedup: gram shuffles carry hashes, dup set broadcasts back") {
    val p = plan("dedup_substring")
    // the semi join against the duplicated-gram set must be broadcast
    // (the dup set is duplicated-keys-only), and no gram STRING column
    // may survive into any exchange — only the 64-bit hash
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"dup-gram set not broadcast:\n$p")
    val exchanges = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(!_.contains("gram")),
      s"a gram string column crossed an exchange:\n${exchanges.mkString("\n")}")
  }

  test("circuit breaker: one shuffle keyed on the source, then the rollup's own exchange") {
    // the per-source automaton replay must shuffle ONCE on the source key
    // (the flatMapGroups exchange); the only other exchange the plan may
    // contain is the per-source rollup/sort on the SAME small key space —
    // never a data-sized or keyless exchange
    val p = plan("load_circuit_breaker")
    val exchanges = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("Reused")).toSeq
    assert(exchanges.nonEmpty, s"no exchange (not distributed?):\n$p")
    // the groupByKey extractor's key column is named `value` in the plan
    assert(exchanges.forall(l => l.contains("source") || l.contains("value")
        || l.contains("rangepartitioning")),
      s"an exchange is not keyed on the source:\n${exchanges.mkString("\n")}")
    assert(!exchanges.exists(l => l.contains("sec#") || l.contains("attempt_id")),
      s"an exchange partitions on a non-key column:\n${exchanges.mkString("\n")}")
    assert(!p.contains("CartesianProduct"), s"cartesian in the replay:\n$p")
  }

  test("paragraph dedup: chunks meet on the hash equi key, chunk strings stay out of exchanges") {
    val p = plan("dedup_paragraph")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"all-pairs plan:\n$p")
    // the stats/occurrence sides meet on the md5 column h, hash-planned
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"no equi join on the chunk hash:\n$p")
    // no exchange may carry the chunk TEXT column — hashes only (the
    // checkpoint cut guarantees it; pin it against refactors)
    val exchanges = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("Reused")).toSeq
    assert(!exchanges.exists(_.contains("chunk#")),
      s"a chunk-string column shuffles:\n${exchanges.mkString("\n")}")
  }

  test("transform select: one scan, case-when decision, single rollup agg, no join") {
    val p = plan("geo_transform_select")
    assert(!p.contains("Join"), s"the decision rule must not join:\n$p")
    assert(p.contains("partial_"), s"rollup lacks a map-side partial:\n$p")
  }

  test("sr declared: per-row JSON-path parse, single hash agg, no join, no UDF") {
    val p = plan("geo_sr_declared")
    assert(!p.contains("Join"), s"declared-CRS reconcile must not join:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"the parse must stay native (get_json_object/string ops):\n$p")
    assert(p.contains("partial_"), s"report rollup lacks a map-side partial:\n$p")
  }

  test("pip raycast: per-row arithmetic only — no join, no aggregate, no width beyond the key") {
    val p = plan("geo_pip_raycast")
    assert(!p.contains("Join"), s"point-in-polygon must not join:\n$p")
    assert(!p.contains("HashAggregate"), s"clip is map-only, no agg:\n$p")
    // only the deterministic final sort may exchange
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"unexpected shuffle in a map-only clip:\n${exchanges.mkString("\n")}")
  }

  test("markov transitions: the only corpus-sized shuffle is the per-user window partition") {
    val p = plan("q_markov_transitions")
    assert(!p.contains("SinglePartition") || !p.contains("Window, [user_id"),
      s"window collapsed to one partition:\n$p")
    assert(p.contains("hashpartitioning(user_id"),
      s"window not partitioned by user:\n$p")
    assert(p.contains("partial_"), s"matrix agg lacks a map-side partial:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in the matrix:\n$p")
  }

  test("sla burn: conditional-agg windows in one pass per scan, watermark broadcast, no data-sized join") {
    val p = plan("mon_sla_burn")
    // both window counters come from ONE conditional agg (partial map-side);
    // the only join is the 1-row watermark broadcast
    assert(p.contains("partial_"), s"window counters lack map-side partials:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a data-sized shuffle join crept into the burn report:\n$p")
    assert(!p.contains("Window"), s"burn windows must be aggs, not window functions:\n$p")
  }

  test("ab ttest: all six arm moments in one conditional-agg scan, no join, no window") {
    val p = plan("q_ab_ttest")
    assert(!p.contains("Join"), s"arm split must be conditional aggs, not a join:\n$p")
    assert(!p.contains("Window"), s"no window needed for arm moments:\n$p")
    assert(p.contains("partial_"), s"moments lack map-side partials:\n$p")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"both arms must come from one events scan:\n$p")
  }

  test("corr matrix: one scan, one partial-agg pair, no join — pairs never multiply the pass count") {
    val p = plan("q_corr_matrix")
    assert(!p.contains("Join"), s"pairwise corr must not self-join:\n$p")
    assert(p.contains("partial_"), s"co-moments lack a map-side partial:\n$p")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"expected exactly one lineitem scan:\n$p")
  }

  test("check constraints: every predicate in one scan, no join, single agg row over the wire") {
    val p = plan("load_check_constraints")
    assert(!p.contains("Join"), s"constraint evaluation must not join:\n$p")
    assert(p.contains("partial_"), s"conditional aggs lack a map-side partial:\n$p")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"constraint count must not multiply scans:\n$p")
  }

  test("text novelty: gram hashes shuffle (not strings), ownership joins back, no window, no cartesian") {
    val p = plan("text_novelty")
    // r17: the gramHashes kernel collapses grams to per-doc DISTINCT
    // hashes inside the scan stage, so no gram string ever reaches a
    // shuffle and the old explode→xxhash64→distinct exchange is gone
    assert(p.contains("graft_gram_hashes"),
      s"grams must collapse to hashes in the kernel:\n$p")
    assert(!p.contains("Window"), s"novelty needs no window:\n$p")
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"),
      s"unbounded join leaked in:\n$p")
  }

  test("partition evolution: status filter prunes BOTH generations' layouts, union equals raw") {
    import org.apache.spark.sql.functions.{col, pmod, lit}
    // materialize the evolved layout, then read through the scheme-aware reader
    graft.operators.LoadOps.partitionEvolution(spark, sfDir).collect()
    val root = graft.Tables.scratch(spark, "graft_evolve_part")
    val rd = graft.operators.LoadOps.evolvedOrders(spark, root)
      .filter(col("status") === "F")
    rd.collect()
    val p = rd.queryExecution.executedPlan.toString
    // two scans (v1, v2), each with a status partition filter
    assert(p.sliding("PartitionFilters: [".length).count(_ == "PartitionFilters: [") >= 2
      || "PartitionFilters: \\[".r.findAllIn(p).length >= 2, s"expected two pruned scans:\n$p")
    assert("PartitionFilters: \\[[^\\]]*status".r.findAllIn(p).length == 2,
      s"status filter missing from a generation's scan:\n$p")
    // completeness: union over both generations equals the raw table
    val raw = spark.read.parquet(s"$sfDir/orders.parquet")
    assert(graft.operators.LoadOps.evolvedOrders(spark, root).count() == raw.count())
    val gens = graft.operators.LoadOps.evolvedOrders(spark, root)
      .groupBy(col("gen")).count().collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val exp1 = raw.filter(pmod(col("o_orderkey"), lit(7)) < 5).count()
    assert(gens(1) == exp1 && gens(2) == raw.count() - exp1, s"generation split wrong: $gens")
  }

  test("regression: all co-moments in one partial-agg scan, no join, no window") {
    val p = plan("q_regression")
    assert(!p.contains("Join"), s"OLS moments must not join:\n$p")
    assert(!p.contains("Window"), s"OLS moments must not window:\n$p")
    assert(p.contains("partial_"), s"moments lack map-side partials:\n$p")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"expected exactly one lineitem scan:\n$p")
  }

  test("seasonal: everything after the pinned daily rollup is broadcast-sized — no shuffle join, no window") {
    val p = plan("mon_seasonal")
    // the daily rollup is checkpointed; horizon + baseline join back in
    // as broadcasts (|sources|·7 rows) — a SortMergeJoin here would mean
    // a data-sized shuffle crept into the judging pass
    assert(!p.contains("SortMergeJoin"), s"baseline join must broadcast:\n$p")
    assert(!p.contains("Window"), s"seasonal judging needs no window:\n$p")
    assert("Scan parquet".r.findAllIn(p).length == 0,
      s"every branch must serve from the one pinned rollup:\n$p")
  }

  test("ks/wasserstein drift: corpus collapses in a partial agg BEFORE the window, totals broadcast") {
    for (name <- Seq("mon_ks_test", "mon_wasserstein")) {
      val p = plan(name)
      // the ECDF window must run over the (source, cent) cells, which the
      // value-bounded hash agg produces — a data-sized window would show
      // as a Window whose child exchange carries no partial aggregate
      assert(p.contains("partial_"), s"$name: no map-side combine:\n$p")
      assert(p.contains("Window"), s"$name: ECDF window missing:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"$name: totals must broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$name: data-sized shuffle join:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name: cartesian:\n$p")
    }
  }

  test("ngram counts: one scan, hash agg with map-side partials, no join") {
    val p = plan("text_ngram_counts")
    assert("Scan parquet".r.findAllIn(p).length == 1,
      s"the three gram orders must ride ONE tokenizer pass:\n$p")
    assert(p.contains("partial_"), s"stopword-gram skew needs map-side combine:\n$p")
    assert(!p.contains("Join"), s"word-count needs no join:\n$p")
  }

  test("containment: gram hashes shuffle, pair join is the df-capped equi self-join, sizes broadcast") {
    val p = plan("dedup_containment")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"containment must never go all-pairs:\n$p")
    // r17: hashes come from the gramHashes kernel (per-doc distinct,
    // zero gram strings) instead of explode→xxhash64→distinct
    assert(p.contains("graft_gram_hashes"),
      s"gram strings must collapse to hashes before shuffling:\n$p")
  }

  test("rank tests: corpus collapses to value cells BEFORE the rank window, no data-sized join") {
    // E41/E42 share the midrank machinery: the window must run over the
    // value-bounded (group, cents) cells a partial hash agg produces
    for (name <- Seq("q_mannwhitney", "q_kruskal_wallis")) {
      val p = plan(name)
      assert(p.contains("partial_"), s"$name: no map-side combine:\n$p")
      assert(p.contains("Window"), s"$name: midrank window missing:\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
        s"$name: data-sized join in a cells-only pipeline:\n$p")
    }
  }

  test("chi2/changepoint: one corpus-collapsing partial agg, midpoints/totals broadcast") {
    for (name <- Seq("mon_chi2", "mon_changepoint")) {
      val p = plan(name)
      assert(p.contains("partial_"), s"$name: no map-side combine:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"$name: per-source midpoint/total frame must broadcast:\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
        s"$name: data-sized shuffle join:\n$p")
    }
  }

  test("CDF-boundary family: corpus collapses to one grain agg, boundary rows broadcast, no data-sized shuffle join") {
    // q_rfm/q_decile_lift broadcast their boundary rows via crossJoin;
    // q_gini/q_abc broadcast per-segment totals into the cells window —
    // in every case the only data-sized operation is the first hash agg
    for (name <- Seq("q_rfm", "q_decile_lift", "q_gini", "q_abc")) {
      val p = plan(name)
      assert(p.contains("partial_"), s"$name: no map-side combine:\n$p")
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
        s"$name: boundaries/totals must broadcast:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name: non-broadcast cartesian:\n$p")
    }
  }

  test("theilsen/autocorr/uptime: cells-sized monitors — partial agg first, no cartesian, bounded windows") {
    for (name <- Seq("mon_theilsen", "mon_autocorr", "mon_uptime")) {
      val p = plan(name)
      assert(p.contains("partial_"), s"$name: no map-side combine:\n$p")
      assert(p.contains("Window"), s"$name: cells window missing:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name: unbounded cartesian:\n$p")
    }
  }

  test("gaps-islands: per-user window after the cells agg, never a global sort of events") {
    val p = plan("q_gaps_islands")
    assert(p.contains("partial_"), s"no map-side combine:\n$p")
    assert(p.contains("Window"), s"island window missing:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"cartesian in a cells-only pipeline:\n$p")
  }

  test("graph jaccard: wedge join over pinned edges, no unbounded cartesian") {
    val p = plan("graph_jaccard")
    assert(!p.contains("CartesianProduct"), s"unbounded cartesian:\n$p")
    assert(p.contains("partial_count"), s"shared-neighbor agg must combine map-side:\n$p")
  }

  test("kmeans: the centroid table broadcasts into every round's assignment, no shuffle join") {
    val p = plan("emb_kmeans")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"centroids must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"assignment must never shuffle-join the corpus:\n$p")
    assert(!p.contains("Window"), s"argmax must be the max_by agg, not a window:\n$p")
  }

  test("spearman: rank maps broadcast back onto the row stream, cells-only windows") {
    val p = plan("q_spearman")
    assert(p.contains("BroadcastHashJoin"),
      s"value-cell rank maps must broadcast, not shuffle the rows:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the row stream must never shuffle for the rank join:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
  }

  test("survival/hampel/theil/winsorized: corpus collapses to cells before any window or fold") {
    // hampel/theil/winsorized pin their cell frames with localCheckpoint
    // (truncated lineage — the corpus-collapsing partial agg ran EAGERLY
    // and is not in the final plan string), so the assertable property
    // there is that nothing downstream is cartesian; survival keeps its
    // full lineage and must show the map-side combine
    val ps = plan("q_survival_km")
    assert(ps.contains("partial_"), s"q_survival_km: no map-side combine:\n$ps")
    for (name <- Seq("q_survival_km", "mon_hampel", "q_theil", "q_winsorized")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name: unbounded cartesian:\n$p")
    }
  }

  test("top paths: the only corpus-sized shuffle is the per-user window partition") {
    val p = plan("q_top_paths")
    assert(p.contains("Window"), s"per-user 3-gram window missing:\n$p")
    assert(p.contains("partial_"), s"path cells must combine map-side:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    // the rank pass and the 1-row total both ride broadcasts over cells
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the 1-row total must broadcast:\n$p")
  }

  test("triplet mine / adamic-adar: candidates meet on equi keys, never a cartesian") {
    for (name <- Seq("emb_triplet_mine", "graph_adamic_adar")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name: unbounded cartesian:\n$p")
      assert(p.contains("partial_"), s"$name: no map-side combine:\n$p")
    }
  }

  test("growth/session/delta/shape/rake: cells-first plans, totals broadcast, no cartesian") {
    for (name <- Seq("q_growth_accounting", "q_session_stats",
        "mon_delta_attribution", "q_shape_stats", "text_rake")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name: unbounded cartesian:\n$p")
    }
    // growth accounting keeps full lineage: the distinct must combine
    // map-side and the churn pass must be a real anti join, not a filter
    val pg = plan("q_growth_accounting")
    assert(pg.contains("partial_") || pg.contains("HashAggregate"),
      s"growth: no combine:\n$pg")
    assert(pg.contains("LeftAnti"), s"growth: churn must be an anti join:\n$pg")
    // delta attribution's probe weeks and grand total ride broadcasts
    val pd = plan("mon_delta_attribution")
    assert(pd.contains("BroadcastNestedLoopJoin") || pd.contains("BroadcastHashJoin"),
      s"delta: probe week/total must broadcast:\n$pd")
  }

  test("watermark: per-row higher-order functions only — no join, no window before the report") {
    val p = plan("text_watermark")
    assert(!p.contains("Join"), s"watermark must not join:\n$p")
    assert(!p.contains("Window"), s"watermark must not window:\n$p")
    assert(p.contains("Scan parquet") || p.contains("FileScan"),
      s"must read straight off the scan:\n$p")
  }

  test("auc/calibration/psi: corpus collapses to cells BEFORE any window, no cartesian") {
    for (name <- Seq("q_auc_roc", "mon_calibration")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name: cartesian:\n$p")
      assert(p.contains("partial_"), s"$name: no map-side combine:\n$p")
      // the rank window must consume the CELL agg's output, not raw rows:
      // in plan text, a Window node sits above a HashAggregate chain
      val wIdx = p.indexOf("Window")
      val aIdx = p.indexOf("HashAggregate")
      assert(wIdx >= 0 && aIdx >= 0 && wIdx < p.lastIndexOf("HashAggregate"),
        s"$name: window does not sit over the cell agg:\n$p")
    }
    // PSI has NO data-sized window at all: bounds + dense grid broadcast
    val pp = plan("mon_psi")
    assert(!pp.contains("Window"), s"psi must not window:\n$pp")
    assert(pp.contains("BroadcastNestedLoopJoin") || pp.contains("BroadcastHashJoin"),
      s"psi: bounds/grid must broadcast:\n$pp")
  }

  test("mann-kendall: the pair join is an equi join on source over dailies, never a cartesian") {
    val p = plan("mon_mann_kendall")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
    assert(p.contains("partial_"), s"no map-side combine of the dailies:\n$p")
  }

  test("srm/cuped/power-mde: unit-grain hash aggs with map-side combine, groups-sized joins, no cartesian") {
    for (name <- Seq("q_srm", "q_cuped", "q_power_mde")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name: cartesian:\n$p")
      assert(p.contains("partial_"), s"$name: no map-side combine:\n$p")
      assert(!p.contains("Window"), s"$name: no window should exist:\n$p")
    }
  }

  test("lsh recall: probe side broadcasts into both passes — truth and banding never shuffle the corpus against probes") {
    val df = SparkEntry.queries("dedup_lsh_recall")(spark, sfDir)
    df.collect()
    // AQE's report keeps the pre-adaptive plan under "Initial Plan" —
    // judge only what actually ran
    val full = df.queryExecution.executedPlan.toString
    val p = full.split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"probes must broadcast:\n${p.take(1200)}")
    assert(!p.contains("SortMergeJoin"), s"corpus-vs-probe must not sort-merge:\n$p")
  }

  test("bm25/ndcg: one tokenize pass feeds tf, df and dl — no second explode") {
    for (name <- Seq("text_bm25", "text_ndcg")) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      // the checkpointed tf rows serve every consumer: exactly zero
      // Generate (explode) nodes may survive into the final plan
      assert(!p.contains("Generate"), s"$name: a second explode survived:\n$p")
      assert(!p.contains("CartesianProduct"), s"$name: cartesian:\n$p")
    }
  }

  test("recall tuning curves: band/probe joins stay hash joins — array keys must never force a nested loop") {
    // band identity in the LSH curve is structural slice equality, which
    // Spark cannot hash-partition on: used as the JOIN KEY it silently
    // degrades to a BroadcastNestedLoopJoin over corpus×bands rows
    // (observed live in r15). The contract: the xxhash64 of the slice is
    // the equi-key, the structural check a residual filter — every
    // executed sweep point must be a broadcast hash join, and no
    // nested-loop/cartesian may appear anywhere past the checkpointed
    // truth pass.
    def shapes(name: String): String = {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    val lsh = shapes("dedup_lsh_recall_curve")
    assert(lsh.contains("BroadcastHashJoin"), s"banded join not a hash join:\n${lsh.take(1500)}")
    assert(!lsh.contains("BroadcastNestedLoopJoin") && !lsh.contains("CartesianProduct"),
      s"nested-loop join in the lsh curve:\n${lsh.take(1500)}")
    val ann = shapes("ann_recall_curve")
    assert(!ann.contains("BroadcastNestedLoopJoin") && !ann.contains("CartesianProduct"),
      s"nested-loop join in the ann curve:\n${ann.take(1500)}")
  }
}
