package graft

import graft.config.{EnvOverlayCfg, GeoOverrideCfg, GeoprocessCfg, LoadCfg, Pipeline, PipelineCfg, SourceCfg, StepsCfg}
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the declarative pipeline (SURVEY H1): JSON parsing, step
  * gating (run.py --download/--process/--load_sde), cleanup semantics. */
class PipelineSpec extends AnyFunSuite with SparkTestBase {

  private val target = "/root/repo/target/graft_pipeline_spec"

  test("config JSON parses with defaults and unknown fields ignored") {
    val cfg = PipelineCfg.fromJson(
      s"""{"sources": [{"name": "r", "path": "$sfDir/region.parquet",
         |  "futureOption": 1}]}""".stripMargin)
    assert(cfg.sources.head.enabled && cfg.steps.load && !cfg.cleanupBeforeRun)
  }

  test("load step gating: disabled load counts rows but writes nothing") {
    val marker = new java.io.File(s"$target/gated")
    val cfg = PipelineCfg(
      sources = Seq(SourceCfg(name = "gated", path = s"$sfDir/region.parquet")),
      load = Some(LoadCfg(target)), steps = StepsCfg(load = false),
      cleanupBeforeRun = true)
    val out = Pipeline.run(spark, cfg).collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("gated", 5L)))
    assert(!marker.exists(), "load was gated off but the target was written")
  }

  test("run filter: authority/type subset loads matches, reports skips, never reads skipped sources") {
    import graft.config.RunFilterCfg
    // mixed-authority document (run.py:189-192): FM+parquet passes; NVV
    // fails the authority filter, the csv-typed source fails the type
    // filter, the untagged source fails a set authority filter (the
    // reference's s.get(...) == arg), the disabled source stays invisible.
    // The skipped csv source points at a MISSING path: a skip must
    // short-circuit before any read is planned or the run would throw.
    val cfg = PipelineCfg(
      sources = Seq(
        SourceCfg(name = "fm_nation", path = s"$sfDir/nation.parquet",
          authority = Some("FM")),
        SourceCfg(name = "nvv_region", path = s"$sfDir/region.parquet",
          authority = Some("NVV")),
        SourceCfg(name = "fm_csv", path = s"$target/does_not_exist.csv",
          authority = Some("FM"), format = "csv"),
        SourceCfg(name = "untagged", path = s"$sfDir/region.parquet"),
        SourceCfg(name = "off", path = s"$sfDir/region.parquet", enabled = false)),
      runFilter = Some(RunFilterCfg(authority = Some("FM"),
        sourceType = Some("parquet"))),
      load = Some(LoadCfg(target)), cleanupBeforeRun = true)
    val out = Pipeline.run(spark, cfg).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    val nNation = spark.read.parquet(s"$sfDir/nation.parquet").count()
    assert(out == Seq(
      ("fm_csv", 0L, "skipped"),
      ("fm_nation", nNation, "ok"),
      ("nvv_region", 0L, "skipped"),
      ("untagged", 0L, "skipped")), s"got $out")
    // only the matching source reached the load target
    assert(new java.io.File(s"$target/fm_nation").exists())
    assert(!new java.io.File(s"$target/nvv_region").exists())
    // and with NO filter the same document runs everything enabled
    val all = Pipeline.run(spark,
        cfg.copy(runFilter = None, cleanupBeforeRun = true,
          sources = cfg.sources.filterNot(_.format == "csv"))).collect()
      .map(r => (r.getString(0), r.getString(2))).toSeq
    assert(all == Seq(("fm_nation", "ok"), ("nvv_region", "ok"),
      ("untagged", "ok")), s"got $all")
  }

  test("cleanup before run removes stale targets") {
    val stale = new java.io.File(s"$target/stale_dir")
    stale.mkdirs()
    val cfg = PipelineCfg(
      sources = Seq(SourceCfg(name = "nation", path = s"$sfDir/nation.parquet")),
      load = Some(LoadCfg(target)), cleanupBeforeRun = true)
    Pipeline.run(spark, cfg).collect()
    assert(!stale.exists(), "cleanupBeforeRun should clear the target tree")
    assert(new java.io.File(s"$target/nation").exists())
  }

  test("an unknown publish value fails before cleanup deletes the target") {
    val tgt = s"$target/bad_publish"
    val kept = new java.io.File(s"$tgt/earlier_load")
    kept.mkdirs()
    val json =
      s"""{"sources": [{"name": "nation", "path": "$sfDir/nation.parquet"}],
         | "load": {"target": "$tgt", "publish": "s3"},
         | "cleanupBeforeRun": true}""".stripMargin
    val e = intercept[IllegalArgumentException] {
      Pipeline.run(spark, PipelineCfg.fromJson(json))
    }
    assert(e.getMessage.contains("s3"), e.getMessage)
    assert(kept.exists(), "a rejected document must leave the target as it was")
  }

  test("geoprocess inheritance: sources inherit, override, and disable the global AOI") {
    // global policy clips supplier coords to a box; source A inherits it,
    // source B overrides the AOI (wider box), source C disables clipping —
    // config.py:105 _apply_bbox_inheritance semantics (source wins,
    // unset fields inherit)
    val global = GeoprocessCfg(enabled = true,
      xColumn = Some("s_suppkey"), yColumn = Some("s_nationkey"),
      aoi = Some(Seq(0.0, 0.0, 50.0, 10.0)))
    val path = s"$sfDir/supplier.parquet"
    val cfg = PipelineCfg(
      sources = Seq(
        SourceCfg(name = "inherits", path = path),
        SourceCfg(name = "overrides", path = path,
          geoprocess = Some(GeoOverrideCfg(aoi = Some(Seq(0.0, 0.0, 1e9, 1e9))))),
        SourceCfg(name = "disables", path = path,
          geoprocess = Some(GeoOverrideCfg(enabled = Some(false))))),
      geoprocess = global)
    val out = Pipeline.run(spark, cfg).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = spark.read.parquet(path).count()
    assert(out("disables") == total, "disabled override must skip the clip")
    assert(out("overrides") == total, "the wide override box must keep everything")
    assert(out("inherits") < total && out("inherits") > 0,
      s"inherited AOI should clip some rows: ${out("inherits")} of $total")
  }

  test("geoprocess override parses from JSON and field-merges over the global") {
    val cfg = PipelineCfg.fromJson(
      s"""{"sources": [{"name": "s", "path": "p",
         |  "geoprocess": {"aoi": [1, 2, 3, 4]}}],
         | "geoprocess": {"enabled": true, "xColumn": "x", "yColumn": "y",
         |  "aoi": [0, 0, 9, 9]}}""".stripMargin)
    val merged = cfg.sources.head.geoprocess.get.mergedOver(cfg.geoprocess)
    assert(merged.enabled && merged.xColumn.contains("x") && merged.yColumn.contains("y"))
    assert(merged.aoi.contains(Seq(1.0, 2.0, 3.0, 4.0)))
  }

  test("archive source stages each discovered layer under its own target with reconciled counts") {
    // stage_files.py:645 import_zip / :403 discover_gpkg_layers via the
    // CONFIG path: one archive source document; layers are discovered from
    // the container, written in ONE partitioned write (each layer its own
    // directory), and the summary reconciles per-layer counts against the
    // ground truth.
    val wire = s"$target/archive_wire"
    graft.sources.Ingest.buildArchiveWire(spark, sfDir)
      .write.mode("overwrite").parquet(wire)
    val cfg = PipelineCfg.fromJson(
      s"""{"sources": [{"name": "arc", "path": "$wire", "format": "archive"}],
         | "load": {"target": "$target/archive_load"}}""".stripMargin)
    val out = Pipeline.run(spark, cfg).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // ground truth: suppliers per nation, layer key = sanitized nation name
    val truth = spark.read.parquet(s"$sfDir/supplier.parquet")
      .join(spark.read.parquet(s"$sfDir/nation.parquet"),
        org.apache.spark.sql.functions.col("s_nationkey") ===
          org.apache.spark.sql.functions.col("n_nationkey"))
      .groupBy("n_name").count().collect()
      .map(r => s"arc/${Pipeline.safeNameString(r.getString(0))}" -> r.getLong(1)).toMap
    assert(out == truth, s"per-layer counts must reconcile: $out vs $truth")
    // every discovered layer got its OWN target directory under the source
    val dirs = new java.io.File(s"$target/archive_load/arc").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(truth.keySet.map(_.stripPrefix("arc/")).forall(l => dirs.contains(s"layer_name=$l")),
      s"each layer must land in its own partition directory: $dirs")
  }

  test("ogc staging lands only chain-complete collections") {
    // drop one collection's middle page from the wire: that collection's
    // next-link chain breaks, so it must stage ZERO records (re-fetched
    // next run) while every intact collection lands in full
    import org.apache.spark.sql.functions._
    val (service, pages) = graft.sources.Ingest.buildOgcWire(spark, sfDir, pageSize = 3)
    val victim = graft.sources.Ingest.parsePages(pages)
      .groupBy(col("cid")).count().filter(col("count") >= 2)
      .orderBy(col("cid")).head().getString(0)
    val broken = pages.filter(
      !col("page_json").contains(s""""collection":"$victim","page":1,"""))
    val staged = graft.sources.Ingest.stageOgcRecords(service, broken)
      .groupBy(col("layer_name")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!staged.contains(victim), s"broken collection must stage nothing: $staged")
    val truth = graft.sources.Ingest.stageOgcRecords(service, pages)
      .groupBy(col("layer_name")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(truth.contains(victim), "victim must land when the wire is intact")
    assert((truth - victim) == staged, "intact collections must land in full")
  }

  test("config-listed typenames stage each typed layer under its own target") {
    // download_wfs.py multi-typename semantics: the CONFIG names the
    // layers; rows outside the requested set never stage
    val out = PipelineDemo.runWfs(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val truth = spark.read.parquet(s"$sfDir/customer.parquet")
      .filter(org.apache.spark.sql.functions.col("c_mktsegment")
        .isin("BUILDING", "MACHINERY", "AUTOMOBILE"))
      .groupBy("c_mktsegment").count().collect()
      .map(r => s"wfs_segments/${r.getString(0).toLowerCase}" -> r.getLong(1)).toMap
    assert(out == truth, s"$out vs $truth")
    val dirs = new java.io.File("/root/repo/target/graft_pipeline_wfs/wfs_segments")
      .listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("layer_name=building", "layer_name=machinery", "layer_name=automobile"),
      s"each typename must land in its own partition directory: $dirs")
  }

  test("manifest-commit publish: versioned data, manifest-resolved reads, grace GC, append accumulates") {
    val tgt = s"$target/manifest_load"
    val cfg = PipelineCfg(
      sources = Seq(SourceCfg(name = "orders_f", path = s"$sfDir/orders.parquet",
        where = Some("o_orderstatus = 'F'"))),
      load = Some(LoadCfg(tgt, publish = "manifest")), cleanupBeforeRun = true)
    val truth = spark.read.parquet(s"$sfDir/orders.parquet")
      .filter("o_orderstatus = 'F'").count()
    val out1 = Pipeline.run(spark, cfg).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out1 == Map("orders_f" -> truth), out1.toString)
    // a reader resolves the live version through the manifest
    val live1 = Pipeline.resolvePublished(spark, tgt, "orders_f")
    assert(live1.size == 1, live1.toString)
    assert(spark.read.parquet(live1: _*).count() == truth)
    // second truncate run: the manifest swings to ONE new version; the
    // superseded version survives one generation (reader grace)
    Pipeline.run(spark, cfg.copy(cleanupBeforeRun = false)).collect()
    val live2 = Pipeline.resolvePublished(spark, tgt, "orders_f")
    assert(live2.size == 1 && live2 != live1, s"$live1 vs $live2")
    def versionsOnDisk() = new java.io.File(s"$tgt/orders_f")
      .listFiles().filter(_.getName.startsWith("v_")).map(_.getName).toSet
    val v1 = new java.io.File(live1.head).getName
    assert(versionsOnDisk().contains(v1), "grace version was GC'd too early")
    // third run: the first version is two generations old — GC'd
    Pipeline.run(spark, cfg.copy(cleanupBeforeRun = false)).collect()
    assert(!versionsOnDisk().contains(v1), "two-generations-old version survived GC")
    assert(spark.read.parquet(
      Pipeline.resolvePublished(spark, tgt, "orders_f"): _*).count() == truth)
    // append mode: each run adds a version, the manifest lists them all,
    // and both the run reconcile and a manifest reader count every append
    val appTgt = s"$target/manifest_append"
    val appCfg = PipelineCfg(
      sources = Seq(SourceCfg(name = "orders_app", path = s"$sfDir/orders.parquet",
        where = Some("o_orderstatus = 'F'"))),
      load = Some(LoadCfg(appTgt, "append", publish = "manifest")), cleanupBeforeRun = true)
    Pipeline.run(spark, appCfg).collect()
    val out2 = Pipeline.run(spark, appCfg.copy(cleanupBeforeRun = false)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out2 == Map("orders_app" -> truth * 2), out2.toString)
    val liveApp = Pipeline.resolvePublished(spark, appTgt, "orders_app")
    assert(liveApp.size == 2, liveApp.toString)
    assert(spark.read.parquet(liveApp: _*).count() == truth * 2)
  }

  test("time travel resolves the superseded generation's exact content, empty before it exists") {
    val tgt = s"$target/travel_load"
    def cfg(where: String, cleanup: Boolean) = PipelineCfg(
      sources = Seq(SourceCfg(name = "orders_tt", path = s"$sfDir/orders.parquet",
        where = Some(where))),
      load = Some(LoadCfg(tgt, publish = "manifest")), cleanupBeforeRun = cleanup)
    Pipeline.run(spark, cfg("o_orderstatus = 'F'", cleanup = true)).collect()
    // one committed generation: nothing to travel back to
    assert(Pipeline.resolvePrevGeneration(spark, tgt, "orders_tt").isEmpty)
    Pipeline.run(spark, cfg("o_orderstatus = 'O'", cleanup = false)).collect()
    // the live generation is 'O'; the ledger still serves 'F' exactly
    val truthF = spark.read.parquet(s"$sfDir/orders.parquet")
      .filter("o_orderstatus = 'F'").count()
    val prev = Pipeline.resolvePrevGeneration(spark, tgt, "orders_tt")
    assert(prev.nonEmpty)
    val prevDf = spark.read.parquet(prev: _*)
    assert(prevDf.count() == truthF)
    assert(prevDf.filter("o_orderstatus <> 'F'").isEmpty,
      "time-traveled generation leaked rows from the live one")
  }

  test("shallow clone moves zero data, pins one source republish, dangles after two (the contract)") {
    val srcTgt = s"$target/clone_src"
    val cloneTgt = s"$target/clone_dst"
    def cfg(where: String, cleanup: Boolean) = PipelineCfg(
      sources = Seq(SourceCfg(name = "orders_c", path = s"$sfDir/orders.parquet",
        where = Some(where))),
      load = Some(LoadCfg(srcTgt, publish = "manifest")), cleanupBeforeRun = cleanup)
    // cloning an unpublished target is a hard error
    intercept[IllegalArgumentException] {
      Pipeline.clonePublish(spark, s"$target/clone_missing", "x", cloneTgt, "x")
    }
    Pipeline.run(spark, cfg("o_orderstatus = 'F'", cleanup = true)).collect()
    val n = Pipeline.clonePublish(spark, srcTgt, "orders_c", cloneTgt, "orders_clone")
    assert(n == 1)
    // zero-copy: nothing under the clone but the one manifest object
    def filesUnder(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten
        .flatMap(f => if (f.isDirectory) filesUnder(f) else Seq(f))
    // (the local FS adds a .crc sidecar per object; the claim is "no
    // data files", i.e. nothing but the manifest object and its crc)
    val cloneFiles = filesUnder(new java.io.File(cloneTgt)).map(_.getName)
      .filterNot(_.endsWith(".crc"))
    assert(cloneFiles == Seq("_GRAFT_MANIFEST"), cloneFiles.toString)
    // every manifest line resolves INSIDE the source target
    val resolved = Pipeline.resolvePublished(spark, cloneTgt, "orders_clone")
    assert(resolved.nonEmpty &&
      resolved.forall(_.contains("clone_src")), resolved.toString)
    val truthF = spark.read.parquet(s"$sfDir/orders.parquet")
      .filter("o_orderstatus = 'F'").count()
    assert(spark.read.parquet(resolved: _*).count() == truthF)
    // source republish #1: clone still serves the pinned 'F' snapshot
    Pipeline.run(spark, cfg("o_orderstatus = 'O'", cleanup = false)).collect()
    val pinned = spark.read.parquet(
      Pipeline.resolvePublished(spark, cloneTgt, "orders_clone"): _*)
    assert(pinned.count() == truthF)
    assert(pinned.filter("o_orderstatus <> 'F'").isEmpty,
      "clone leaked rows from the source's new generation")
    // source republish #2: the captured generation leaves the grace
    // window and is GC'd — the clone now dangles (deep-copy territory)
    Pipeline.run(spark, cfg("o_orderstatus = 'P'", cleanup = false)).collect()
    val dangling = Pipeline.resolvePublished(spark, cloneTgt, "orders_clone")
    assert(!dangling.forall(p => new java.io.File(
      new java.net.URI(p).getPath).exists()),
      "two-republish-old cloned generation unexpectedly survived GC")
  }

  test("manifest GC grace covers a whole multi-version prior generation and spares foreign dirs") {
    val tgt = s"$target/manifest_grace"
    val app = PipelineCfg(
      sources = Seq(SourceCfg(name = "g", path = s"$sfDir/region.parquet")),
      load = Some(LoadCfg(tgt, "append", publish = "manifest")), cleanupBeforeRun = true)
    Pipeline.run(spark, app).collect()
    Pipeline.run(spark, app.copy(cleanupBeforeRun = false)).collect()
    val appended = Pipeline.resolvePublished(spark, tgt, "g")
    assert(appended.size == 2)
    // a concurrent writer's in-flight (never-published) version dir
    val foreign = new java.io.File(s"$tgt/g/v_9999999999999_1_1")
    foreign.mkdirs()
    // truncate over the two-version generation: BOTH prior versions
    // must survive this publish (a reader resolving [v1, v2] may be
    // mid-scan of either), and the foreign dir must not be swept
    val trunc = app.copy(load = Some(LoadCfg(tgt, "truncate", publish = "manifest")),
      cleanupBeforeRun = false)
    Pipeline.run(spark, trunc).collect()
    val disk1 = new java.io.File(s"$tgt/g").listFiles()
      .filter(_.getName.startsWith("v_")).map(_.getName).toSet
    appended.map(p => new java.io.File(p).getName).foreach(v =>
      assert(disk1.contains(v), s"prior-generation version $v GC'd without grace"))
    assert(disk1.contains(foreign.getName), "foreign in-flight dir was swept")
    // one more truncate: the old generation is now two publishes old
    // and goes away; the foreign dir STILL survives (never in a ledger)
    Pipeline.run(spark, trunc).collect()
    val disk2 = new java.io.File(s"$tgt/g").listFiles()
      .filter(_.getName.startsWith("v_")).map(_.getName).toSet
    appended.map(p => new java.io.File(p).getName).foreach(v =>
      assert(!disk2.contains(v), s"two-generations-old version $v survived GC"))
    assert(disk2.contains(foreign.getName), "foreign dir swept by ledger GC")
  }

  test("a url with typeName= but no typenameColumn stays un-layered (previously-ignored field)") {
    // configs that merely carry the reference's source url must keep
    // loading the whole source exactly as before the fallback existed
    val cfg = PipelineCfg(sources = Seq(
      SourceCfg(name = "plain", path = s"$sfDir/customer.parquet",
        url = Some("https://example.test/wfs?typeName=BUILDING"))))
    assert(!Pipeline.isLayered(cfg.sources.head))
    val out = Pipeline.run(spark, cfg).collect()
    assert(out.length == 1 && out.head.getString(0) == "plain")
    assert(out.head.getLong(1) ==
      spark.read.parquet(s"$sfDir/customer.parquet").count())
  }

  test("url-embedded typeName= is the typename fallback when the config lists none") {
    // download_wfs.py:184-188: config typenames win; absent those, the
    // substring after the first `typeName=` (up to the next `&`) on the
    // source URL names the single typed layer to pull
    val cfg = PipelineCfg(
      sources = Seq(SourceCfg(name = "wfs_url", path = s"$sfDir/customer.parquet",
        url = Some("https://example.test/wfs?service=WFS&typeName=BUILDING&version=2.0.0"),
        typenameColumn = Some("c_mktsegment"))),
      load = Some(LoadCfg(s"$target/wfs_url_load")), cleanupBeforeRun = true)
    val out = Pipeline.run(spark, cfg).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val truth = spark.read.parquet(s"$sfDir/customer.parquet")
      .filter(org.apache.spark.sql.functions.col("c_mktsegment") === "BUILDING")
      .count()
    assert(out == Map("wfs_url/building" -> truth), out.toString)
    // config typenames still take precedence over the URL parameter
    val both = PipelineCfg(
      sources = Seq(SourceCfg(name = "wfs_both", path = s"$sfDir/customer.parquet",
        url = Some("https://example.test/wfs?typeName=BUILDING"),
        typenames = Some(Seq("MACHINERY")),
        typenameColumn = Some("c_mktsegment"))),
      load = Some(LoadCfg(s"$target/wfs_both_load")), cleanupBeforeRun = true)
    val out2 = Pipeline.run(spark, both).collect().map(_.getString(0)).toSet
    assert(out2 == Set("wfs_both/machinery"), out2.toString)
  }

  test("half-specified typename config fails with a clear message at stage time") {
    val cfg = PipelineCfg(sources = Seq(
      SourceCfg(name = "half", path = s"$sfDir/customer.parquet",
        typenames = Some(Seq("BUILDING")))))
    val ex = intercept[IllegalArgumentException] { Pipeline.run(spark, cfg).collect() }
    assert(ex.getMessage.contains("typenameColumn"), ex.getMessage)
  }

  test("select on a layered source keeps the synthetic layer column") {
    val cfg = PipelineCfg(
      sources = Seq(SourceCfg(name = "sel", path = s"$sfDir/customer.parquet",
        typenames = Some(Seq("BUILDING", "MACHINERY")),
        typenameColumn = Some("c_mktsegment"),
        select = Some(Seq("c_custkey", "c_mktsegment")))),
      load = Some(LoadCfg(s"$target/sel_load")), cleanupBeforeRun = true)
    val out = Pipeline.run(spark, cfg).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set("sel/building", "sel/machinery"), out.toString)
    assert(out.values.forall(_ > 0))
  }

  test("empty staged sources are skipped, not loaded as empty targets") {
    // process.py skips zero-feature outputs: the summary still reports the
    // source (0 rows) but no target directory is created for it
    val cfg = PipelineCfg(
      sources = Seq(
        SourceCfg(name = "empty_src", path = s"$sfDir/region.parquet",
          where = Some("r_regionkey < 0")),
        SourceCfg(name = "full_src", path = s"$sfDir/region.parquet")),
      load = Some(LoadCfg(s"$target/skip_load")), cleanupBeforeRun = true)
    val out = Pipeline.run(spark, cfg).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("empty_src" -> 0L, "full_src" -> 5L))
    assert(!new java.io.File(s"$target/skip_load/empty_src").exists(),
      "zero-feature output must not be written")
    assert(new java.io.File(s"$target/skip_load/full_src").exists())
  }

  test("empty archive source skips the load and still reports 0 rows") {
    // a container whose every payload fails the magic sniff stages zero
    // records: the zero-row partitioned write must be skipped (it would
    // leave an unreadable schema-less directory) and the source must stay
    // visible to monitoring as 0 — with and without a load step
    import spark.implicits._
    val wire = s"$target/bad_archive_wire"
    Seq((0, "NOPE-not-an-archive"))
      .toDF("r_regionkey", "payload_str")
      .select(org.apache.spark.sql.functions.col("r_regionkey"),
        org.apache.spark.sql.functions.col("payload_str").cast("binary").as("payload"))
      .write.mode("overwrite").parquet(wire)
    def cfg(withLoad: Boolean) = PipelineCfg(
      sources = Seq(SourceCfg(name = "bad_arc", path = wire, format = "archive")),
      load = if (withLoad) Some(LoadCfg(s"$target/bad_arc_load")) else None,
      cleanupBeforeRun = withLoad)
    for (withLoad <- Seq(true, false)) {
      val out = Pipeline.run(spark, cfg(withLoad)).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(out == Map("bad_arc" -> 0L), s"withLoad=$withLoad: $out")
    }
    assert(!new java.io.File(s"$target/bad_arc_load/bad_arc").exists(),
      "empty archive must leave no target behind")
  }

  test("name sanitization applies to loaded table names and columns") {
    assert(Pipeline.safeNameString("Övre Vägen 7!") == "vre_v_gen_7")
    assert(Pipeline.safeNameString("7eleven") == "fc_7eleven")
    assert(Pipeline.safeNameString("") == "unnamed_fc")
    // utils.py:104 truncation + reserved-device suffix, in that order
    assert(Pipeline.safeNameString("x" * 150) == "x" * 100)
    assert(Pipeline.safeNameString("CON") == "con_data")
    assert(Pipeline.safeNameString("lpt9") == "lpt9_data")
    assert(Pipeline.safeNameString("console") == "console") // prefix, not reserved
  }

  test("sde destination parts: authority prefix -> dataset, extension stripped, no-prefix -> root") {
    // load_sde.py run(): authority before first underscore, uppercased
    assert(Pipeline.sdeDatasetAndName("lst_vindkraft.shp")
      == (Some("Underlag_LST"), "vindkraft"))
    assert(Pipeline.sdeDatasetAndName("skogsstyrelsen_avverkning")
      == (Some("Underlag_SKOGSSTYRELSEN"), "avverkning"))
    // multi-underscore: ONLY the first segment is the authority
    assert(Pipeline.sdeDatasetAndName("lst_natur_reservat.gpkg")
      == (Some("Underlag_LST"), "natur_reservat"))
    // no underscore -> "No dataset name determined" branch
    assert(Pipeline.sdeDatasetAndName("roads.shp") == (None, "roads"))
    assert(Pipeline.sdeDatasetAndName("roads") == (None, "roads"))
    // degenerate prefixes: a leading/trailing underscore yields no
    // authority (the reference's empty-authority falsy branch)
    assert(Pipeline.sdeDatasetAndName("_roads") == (None, "roads"))
    assert(Pipeline.sdeDatasetAndName("roads_") == (None, "roads"))
  }

  test("sde destination resolution: dataset create-if-absent, shared dataset, root fallback on failure") {
    import org.apache.hadoop.fs.Path
    val tgt = s"$target/sde_load"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete(): Unit
    }
    rm(new java.io.File(tgt))
    val truth = spark.read.parquet(s"$sfDir/region.parquet").count()
    val cfg = PipelineCfg(
      sources = Seq(
        SourceCfg(name = "lst_vindkraft.shp", path = s"$sfDir/region.parquet"),
        SourceCfg(name = "lst_kraftledning", path = s"$sfDir/region.parquet"),
        SourceCfg(name = "roads", path = s"$sfDir/region.parquet")),
      load = Some(LoadCfg(tgt, "truncate", resolveDatasets = true)))
    val out = Pipeline.run(spark, cfg).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("lst_vindkraft.shp" -> truth, "lst_kraftledning" -> truth,
      "roads" -> truth), out.toString)
    // both lst_* sources share ONE created feature dataset; prefix and
    // extension are gone from the destination names; roads lands at root
    assert(new java.io.File(s"$tgt/Underlag_LST/vindkraft").isDirectory)
    assert(new java.io.File(s"$tgt/Underlag_LST/kraftledning").isDirectory)
    assert(new java.io.File(s"$tgt/roads").isDirectory)
    assert(!new java.io.File(s"$tgt/lst_vindkraft_shp").exists(),
      "flat naming must not appear when resolveDatasets is on")
    // reconcile: each destination serves the full source row count
    Seq(s"$tgt/Underlag_LST/vindkraft", s"$tgt/Underlag_LST/kraftledning", s"$tgt/roads")
      .foreach(p => assert(spark.read.parquet(p).count() == truth, p))
    // truncate-reload into the EXISTING dataset destination (the
    // arcpy.Exists -> TruncateTable branch): row count unchanged
    Pipeline.run(spark, cfg).collect()
    assert(spark.read.parquet(s"$tgt/Underlag_LST/vindkraft").count() == truth)
    // root fallback: dataset path occupied by a FILE -> creation fails ->
    // the load proceeds into the target root (reference logs a warning
    // and returns f"{sde_conn}/{fc_name}")
    val tgt2 = s"$target/sde_fallback"
    rm(new java.io.File(tgt2))
    new java.io.File(tgt2).mkdirs()
    val blocker = new java.io.File(s"$tgt2/Underlag_KLD")
    assert(blocker.createNewFile(), "could not plant blocking file")
    val out2 = Pipeline.run(spark, PipelineCfg(
      sources = Seq(SourceCfg(name = "kld_grid", path = s"$sfDir/region.parquet")),
      load = Some(LoadCfg(tgt2, "truncate", resolveDatasets = true)))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out2 == Map("kld_grid" -> truth), out2.toString)
    assert(blocker.isFile, "the blocking file must be untouched")
    assert(new java.io.File(s"$tgt2/grid").isDirectory,
      "failed dataset creation must fall back to the target root")
    assert(spark.read.parquet(s"$tgt2/grid").count() == truth)
    // flat naming preserved when the protocol is off (default)
    val tgt3 = s"$target/sde_off"
    Pipeline.run(spark, PipelineCfg(
      sources = Seq(SourceCfg(name = "lst_vindkraft.shp", path = s"$sfDir/region.parquet")),
      load = Some(LoadCfg(tgt3)))).collect()
    assert(new java.io.File(s"$tgt3/lst_vindkraft_shp").isDirectory,
      "default naming must stay flat/sanitized")
  }

  test("environment overlay: set fields replace, unset inherit, source still beats environment") {
    val base = PipelineCfg(
      sources = Seq(SourceCfg(name = "s", path = "p",
        geoprocess = Some(GeoOverrideCfg(xColumn = Some("src_x"))))),
      geoprocess = GeoprocessCfg(enabled = true, xColumn = Some("gx"), yColumn = Some("gy")),
      load = Some(LoadCfg("/prod/target", "truncate")),
      environment = Some("development"),
      environments = Map(
        "development" -> EnvOverlayCfg(
          loadTarget = Some("/dev/target"), stepLoad = Some(false),
          cleanupBeforeRun = Some(false),
          geoprocess = Some(GeoOverrideCfg(yColumn = Some("dev_y")))),
        "production" -> EnvOverlayCfg(loadMode = Some("append"),
          cleanupBeforeRun = Some(true))))
    // document default environment: development
    val dev = base.resolveEnvironment(envVar = None)
    assert(dev.load.contains(LoadCfg("/dev/target", "truncate")))
    assert(!dev.steps.load && dev.steps.stage && dev.steps.process)
    // overlay merge is field-wise: yColumn replaced, xColumn inherited
    assert(dev.geoprocess == GeoprocessCfg(enabled = true,
      xColumn = Some("gx"), yColumn = Some("dev_y")))
    // per-SOURCE override still wins over the environment overlay (the
    // r2 inheritance chain gains one middle layer: source > env > global)
    val devEffective = dev.sources.head.geoprocess.get.mergedOver(dev.geoprocess)
    assert(devEffective.xColumn.contains("src_x") && devEffective.yColumn.contains("dev_y"))
    // ETL_ENVIRONMENT analogue outranks the document field
    val prod = base.resolveEnvironment(envVar = Some("production"))
    assert(prod.load.contains(LoadCfg("/prod/target", "append")))
    assert(prod.cleanupBeforeRun && prod.steps.load)
    // idempotent: resolving twice changes nothing (run() resolves again)
    assert(prod.resolveEnvironment(envVar = Some("production")) == prod)
    // a typo'd environment fails loudly instead of running base settings
    val err = intercept[IllegalArgumentException] {
      base.resolveEnvironment(envVar = Some("prodcution"))
    }
    assert(err.getMessage.contains("prodcution") && err.getMessage.contains("production"))
    // no declared environments: the layer is off, any env name passes through
    val off = PipelineCfg(sources = Seq.empty, environment = Some("development"))
    assert(off.resolveEnvironment(envVar = Some("anything")) == off)
    // JSON wire format parses the whole layer (Jackson, like the rest)
    val json = PipelineCfg.fromJson(
      """{"sources": [], "environment": "staging",
        |"environments": {"staging": {"loadTarget": "/stage/t",
        |  "resolveDatasets": true, "stepProcess": false}}}""".stripMargin)
    val st = json.resolveEnvironment(envVar = None)
    assert(st.load.contains(LoadCfg("/stage/t", "truncate", resolveDatasets = true)))
    assert(!st.steps.process)
    // and an end-to-end run through the overlay: dev gates the load off
    val tgt = s"$target/env_gated"
    def rmAll(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmAll); f.delete(): Unit
    }
    rmAll(new java.io.File(tgt))
    val runCfg = PipelineCfg(
      sources = Seq(SourceCfg(name = "r", path = s"$sfDir/region.parquet")),
      load = Some(LoadCfg(tgt)),
      environment = Some("development"),
      environments = Map("development" -> EnvOverlayCfg(stepLoad = Some(false))))
    val out = Pipeline.run(spark, runCfg).collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("r", 5L)))
    assert(!new java.io.File(tgt).exists(), "dev overlay must gate the load off")
  }

  test("vacuum sweeps only ledgerless old orphans, is idempotent, and spares in-flight dirs") {
    import org.apache.spark.sql.functions.col
    val target = java.nio.file.Files.createTempDirectory("vacuum").toString
    def cfg(where: String) =
      s"""{"sources": [{"name": "o", "path": "$sfDir/orders.parquet",
         |  "where": "$where"}],
         | "load": {"target": "$target", "mode": "truncate",
         |  "publish": "manifest"}}""".stripMargin
    Seq("o_orderstatus = 'F'", "o_orderstatus = 'O'").foreach { w =>
      Pipeline.run(spark, PipelineCfg.fromJson(cfg(w))).collect(): Unit
    }
    val base = new java.io.File(s"$target/o")
    val sample = spark.read.parquet(s"$sfDir/orders.parquet")
      .filter(col("o_orderkey") < 40)
    // old orphan (stamp 0) must go; an in-flight-looking dir with a
    // stamp NEWER than every retained version must survive
    sample.write.parquet(s"$target/o/v_0_0_0")
    sample.write.parquet(s"$target/o/v_${Long.MaxValue}_9_9")
    val liveBefore = Pipeline.resolvePublished(spark, target, "o")
    val (kept, deleted) = Pipeline.vacuum(spark, target, "o")
    assert(deleted == 1, s"expected exactly the old orphan swept, got $deleted")
    assert(!new java.io.File(base, "v_0_0_0").exists(), "old orphan survived")
    assert(base.listFiles().exists(_.getName.startsWith(s"v_${Long.MaxValue}")),
      "in-flight dir must not be swept")
    assert(kept == 3, s"live + prev + in-flight expected kept, got $kept")
    // retained generations still fully scannable
    assert(Pipeline.resolvePublished(spark, target, "o") == liveBefore)
    assert(spark.read.parquet(liveBefore: _*).count() ==
      spark.read.parquet(s"$sfDir/orders.parquet")
        .filter(col("o_orderstatus") === "O").count())
    // idempotent: a second sweep finds nothing
    assert(Pipeline.vacuum(spark, target, "o") == ((3, 0)))
  }

  test("restore swings the manifest back with zero data movement and is itself reversible") {
    import org.apache.spark.sql.functions.col
    val target = java.nio.file.Files.createTempDirectory("restore").toString
    def cfg(where: String) =
      s"""{"sources": [{"name": "o", "path": "$sfDir/orders.parquet",
         |  "where": "$where"}],
         | "load": {"target": "$target", "mode": "truncate",
         |  "publish": "manifest"}}""".stripMargin
    Seq("o_orderstatus = 'F'", "o_orderstatus = 'O'").foreach { w =>
      Pipeline.run(spark, PipelineCfg.fromJson(cfg(w))).collect(): Unit
    }
    val gen1 = Pipeline.resolvePrevGeneration(spark, target, "o")
    val gen2 = Pipeline.resolvePublished(spark, target, "o")
    val dirsBefore = new java.io.File(s"$target/o").listFiles()
      .map(_.getName).filter(_.startsWith("v_")).sorted.toSeq
    assert(Pipeline.restore(spark, target, "o") == 1)
    // pure metadata swap: live/prev exchanged, same dirs on disk
    assert(Pipeline.resolvePublished(spark, target, "o") == gen1)
    assert(Pipeline.resolvePrevGeneration(spark, target, "o") == gen2)
    assert(new java.io.File(s"$target/o").listFiles()
      .map(_.getName).filter(_.startsWith("v_")).sorted.toSeq == dirsBefore,
      "restore must not move or delete data")
    // restored bytes readable and correct through the reader path
    assert(spark.read.parquet(gen1: _*).count() ==
      spark.read.parquet(s"$sfDir/orders.parquet")
        .filter(col("o_orderstatus") === "F").count())
    // reversible: a second restore reverts to generation 2
    assert(Pipeline.restore(spark, target, "o") == 1)
    assert(Pipeline.resolvePublished(spark, target, "o") == gen2)
  }

  test("expire retires exactly the retained history: live untouched, time travel ends, restore refuses") {
    import org.apache.spark.sql.functions.col
    val target = java.nio.file.Files.createTempDirectory("expire").toString
    def cfg(where: String) =
      s"""{"sources": [{"name": "o", "path": "$sfDir/orders.parquet",
         |  "where": "$where"}],
         | "load": {"target": "$target", "mode": "truncate",
         |  "publish": "manifest"}}""".stripMargin
    Seq("o_orderstatus = 'F'", "o_orderstatus = 'O'").foreach { w =>
      Pipeline.run(spark, PipelineCfg.fromJson(cfg(w))).collect(): Unit
    }
    val prevDirs = Pipeline.resolvePrevGeneration(spark, target, "o")
    val live = Pipeline.resolvePublished(spark, target, "o")
    assert(prevDirs.nonEmpty && Pipeline.expirePrev(spark, target, "o") == 1)
    prevDirs.foreach { p =>
      assert(!new java.io.File(new java.net.URI(p).getPath).exists(),
        s"expired version dir survived: $p")
    }
    assert(Pipeline.resolvePrevGeneration(spark, target, "o").isEmpty,
      "time travel must end after expiry")
    assert(Pipeline.resolvePublished(spark, target, "o") == live)
    assert(spark.read.parquet(live: _*).count() ==
      spark.read.parquet(s"$sfDir/orders.parquet")
        .filter(col("o_orderstatus") === "O").count())
    intercept[IllegalArgumentException] {
      Pipeline.restore(spark, target, "o")
    }
    // idempotent: nothing left to expire
    assert(Pipeline.expirePrev(spark, target, "o") == 0)
  }

  test("branching: writes isolated, ff-merge swings main, diverged merge refuses and changes nothing") {
    val target = graft.Tables.scratch(spark, "graft_pipeline_branch")
    val rows = PipelineDemo.runBranch(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(rows.map(_._5).toSeq ==
      Seq("published", "isolated", "fast_forward", "isolated", "conflict"))
    // isolation: the branch write did not move main (steps 1 and 2 agree)
    assert(rows(1)._3 == rows(0)._3)
    // ff-merge moved main to the branch generation; the branch pointer is gone
    assert(rows(2)._3 == rows(1)._4 && rows(2)._4 == 0L)
    assert(graft.config.Pipeline.resolveBranch(spark, target, "orders_br", "exp").isEmpty)
    // diverged merge changed nothing: main and exp2 both still resolve
    assert(rows(4)._3 == rows(3)._3 && rows(4)._4 == rows(3)._4)
    val exp2 = graft.config.Pipeline.resolveBranch(spark, target, "orders_br", "exp2")
    assert(exp2.nonEmpty && spark.read.parquet(exp2: _*).count() == rows(4)._4)
    // a retry conflicts again — the refusal is stable, not a race artifact
    assert(graft.config.Pipeline.branchMerge(spark, target, "orders_br", "exp2") == "conflict")
    val live = graft.config.Pipeline.resolvePublished(spark, target, "orders_br")
    assert(spark.read.parquet(live: _*).count() == rows(4)._3)
  }

  test("wap: rejected version stays unmanifested on disk, published bytes satisfy every constraint") {
    import org.apache.hadoop.fs.Path
    val rows = PipelineDemo.runWap(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4), r.getLong(5)))
    assert(rows.length == 2)
    val (a1, a2) = (rows(0), rows(1))
    assert(a1._4 == "published" && a1._3 == 0L && a1._6 == a1._2)
    assert(a2._4 == "rejected" && a2._3 > 0L, s"attempt 2: $a2")
    // the reject froze live state at attempt 1's generation
    assert(a2._5 == 1L && a2._6 == a1._2, s"reject moved live state: $a2")
    // on disk: exactly two version dirs, manifest names exactly one
    val base = new Path(graft.Tables.scratch(spark, "graft_pipeline_wap"), "lineitem_gate")
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vers = fs.listStatus(base).map(_.getPath.getName).filter(_.startsWith("v_"))
    assert(vers.length == 2, s"expected staged+published dirs: ${vers.toSeq}")
    val live = graft.config.Pipeline.resolvePublished(
      spark, graft.Tables.scratch(spark, "graft_pipeline_wap"), "lineitem_gate")
    assert(live.length == 1)
    val orphan = vers.filterNot(v => live.exists(_.endsWith(v)))
    assert(orphan.length == 1, "rejected version missing from disk (forensics lost)")
    assert(spark.read.parquet(new Path(base, orphan.head).toString).count() == a2._2)
    // the published bytes pass the ENTIRE constraint list
    val audit = graft.operators.LoadOps
      .checkConstraintsOf(spark.read.parquet(live: _*)).collect()
    assert(audit.forall(_.getLong(2) == 0L), "published data violates a constraint")
  }

  test("generation diff: truncate supersedes, append accumulates — the ledger answer with zero data reads") {
    import graft.config.Pipeline
    import spark.implicits._
    val target = graft.Tables.scratch(spark, s"graft_diff_prim_${System.nanoTime()}")
    def cfg(mode: String, where: String) =
      s"""{"sources": [{"name": "t", "path": "$sfDir/orders.parquet",
         |  "where": "$where"}],
         | "load": {"target": "$target", "mode": "$mode",
         |  "publish": "manifest"}}""".stripMargin
    Pipeline.run(spark, config.PipelineCfg.fromJson(
      cfg("truncate", "o_orderkey % 2 = 0"))).collect()
    Pipeline.run(spark, config.PipelineCfg.fromJson(
      cfg("truncate", "o_orderkey % 2 = 1"))).collect()
    // truncate: one added, one removed, nothing shared
    val (a1, r1, k1) = Pipeline.diffGenerations(spark, target, "t")
    assert(a1.size == 1 && r1.size == 1 && k1.isEmpty, s"$a1 $r1 $k1")
    // append leaves the prev ledger at the last TRUNCATE supersede, so
    // the diff accumulates: BOTH post-truncate versions count as added
    Pipeline.run(spark, config.PipelineCfg.fromJson(
      cfg("append", "o_orderkey % 2 = 0"))).collect()
    val (a2, r2, k2) = Pipeline.diffGenerations(spark, target, "t")
    assert(a2.size == 2 && r2 == r1 && k2.isEmpty,
      s"append diff must accumulate against the truncate base: $a2 $r2 $k2")
  }

  test("incremental read: peek does not advance, commit does, every version consumed exactly once") {
    import graft.config.Pipeline
    import spark.implicits._
    val target = graft.Tables.scratch(spark, s"graft_incr_prim_${System.nanoTime()}")
    def cfg(where: String) =
      s"""{"sources": [{"name": "t", "path": "$sfDir/orders.parquet",
         |  "where": "$where"}],
         | "load": {"target": "$target", "mode": "append",
         |  "publish": "manifest"}}""".stripMargin
    Pipeline.run(spark, config.PipelineCfg.fromJson(cfg("o_orderkey % 4 = 0"))).collect()
    // peek (commit=false): same answer twice, cursor untouched
    val p1 = Pipeline.readIncremental(spark, target, "t", "c", commit = false)
    val p2 = Pipeline.readIncremental(spark, target, "t", "c", commit = false)
    assert(p1.size == 1 && p1 == p2, "peek must not advance the cursor")
    // commit: consumed once, then exhausted
    val c1 = Pipeline.readIncremental(spark, target, "t", "c")
    assert(c1 == p1, "commit read must see what peek saw")
    assert(Pipeline.readIncremental(spark, target, "t", "c").isEmpty)
    // a second consumer group has its OWN cursor
    val other = Pipeline.readIncremental(spark, target, "t", "c2")
    assert(other == p1, "consumer groups must be independent")
    // new publish: only the delta comes back, and its bytes are the slice
    Pipeline.run(spark, config.PipelineCfg.fromJson(cfg("o_orderkey % 4 = 1"))).collect()
    val c2 = Pipeline.readIncremental(spark, target, "t", "c")
    assert(c2.size == 1 && !c1.contains(c2.head))
    val n = spark.read.parquet(c2: _*).count()
    val want = spark.read.parquet(s"$sfDir/orders.parquet")
      .where("o_orderkey % 4 = 1").count()
    assert(n == want, s"delta rows $n != slice $want")
  }
}
