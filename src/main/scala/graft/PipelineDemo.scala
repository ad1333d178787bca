package graft

import graft.config.{Pipeline, PipelineCfg}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, countDistinct, lit, max, min}

/** End-to-end config-driven pipeline over the testdata — the op-etl
  * workflow (config.yaml → download/stage → process → truncate-load →
  * summary; run.py) as one declarative JSON document. Exercises the JSON
  * parser, filtered staging, OID-sweep ingest and truncate-load, and
  * returns the per-source monitoring summary.
  */
object PipelineDemo {
  def run(spark: SparkSession, dir: String): DataFrame = {
    val json =
      s"""{
         |  "sources": [
         |    {"name": "orders_f", "path": "$dir/orders.parquet",
         |     "where": "o_orderstatus = 'F'"},
         |    {"name": "lineitem_swept", "path": "$dir/lineitem.parquet",
         |     "where": "l_quantity >= 45",
         |     "oidSweep": {"keyColumn": "l_orderkey", "batches": 16}},
         |    {"name": "customer_seg", "path": "$dir/customer.parquet",
         |     "select": ["c_custkey", "c_name", "c_mktsegment"],
         |     "where": "c_mktsegment = 'BUILDING'"},
         |    {"name": "disabled_src", "path": "$dir/region.parquet", "enabled": false}
         |  ],
         |  "load": {"target": "${Tables.scratch(spark, "graft_pipeline")}", "mode": "truncate"}
         |}""".stripMargin
    Pipeline.run(spark, PipelineCfg.fromJson(json))
  }

  /** Config-driven CONTAINER staging (stage_files.py:645 `import_zip`,
    * :403 `discover_gpkg_layers`, :316 `import_file_to_staging`): a single
    * archive source in the config document; the pipeline sniffs the
    * container, discovers its layers, stages each layer under its own
    * (safe-named) target directory via one partitioned write, and the run
    * summary reconciles per-layer loaded counts — the A8 machinery
    * reachable declaratively. */
  def runArchive(spark: SparkSession, dir: String): DataFrame = {
    val wire = Tables.scratch(spark, "graft_archive_wire")
    graft.sources.Ingest.buildArchiveWire(spark, dir)
      .write.mode("overwrite").parquet(wire)
    val json =
      s"""{
         |  "sources": [
         |    {"name": "regional_archives", "path": "$wire", "format": "archive"}
         |  ],
         |  "load": {"target": "${Tables.scratch(spark, "graft_pipeline_archive")}", "mode": "truncate"}
         |}""".stripMargin
    Pipeline.run(spark, PipelineCfg.fromJson(json))
  }

  /** Config-driven OGC SERVICE source (download_ogc.py): the pipeline
    * discovers the service's collections, verifies every next-link page
    * chain, lands records only from chain-complete collections, and
    * stages each collection under its own (safe-named) target — the A12
    * sweep reachable declaratively, same per-layer reconcile as the
    * archive path. */
  def runOgc(spark: SparkSession, dir: String): DataFrame = {
    val wire = Tables.scratch(spark, "graft_ogc_wire")
    val (service, pages) = graft.sources.Ingest.buildOgcWire(spark, dir)
    service.write.mode("overwrite").parquet(s"$wire/service")
    pages.write.mode("overwrite").parquet(s"$wire/pages")
    val json =
      s"""{
         |  "sources": [
         |    {"name": "ogc_collections", "path": "$wire", "format": "ogc"}
         |  ],
         |  "load": {"target": "${Tables.scratch(spark, "graft_pipeline_ogc")}", "mode": "truncate"}
         |}""".stripMargin
    Pipeline.run(spark, PipelineCfg.fromJson(json))
  }

  /** Config-driven REST service source (download_rest.py:215
    * `discover_layers` + fnmatch include patterns, :253 single-layer
    * FeatureServer fallback): the pipeline discovers the services' layers,
    * keeps those matching the config's wildcard include patterns (the
    * FeatureServer doc contributes itself — its layer list is empty), and
    * stages each discovered layer under its own (safe-named) target — the
    * fourth layered-source shape. */
  def runRest(spark: SparkSession, dir: String): DataFrame = {
    val wire = Tables.scratch(spark, "graft_rest_wire")
    val (service, features) = graft.sources.Ingest.buildRestServiceWire(spark, dir)
    service.write.mode("overwrite").parquet(s"$wire/service")
    features.write.mode("overwrite").parquet(s"$wire/layers")
    val json =
      s"""{
         |  "sources": [
         |    {"name": "rest_layers", "path": "$wire", "format": "rest",
         |     "include": ["nation_1*", "*_2"]}
         |  ],
         |  "load": {"target": "${Tables.scratch(spark, "graft_pipeline_rest")}", "mode": "truncate"}
         |}""".stripMargin
    Pipeline.run(spark, PipelineCfg.fromJson(json))
  }

  /** Config-driven ATOM FEED source (download_atom.py): the pipeline
    * parses each feed's entries, classifies every atom:link — enclosure /
    * zip content-type links download, filterable service URLs follow the
    * bbox-bypass path because the config sets `filterServices` (the
    * reference's `raw.filter_services` gate, download_atom.py:142) — and
    * stages each entry's records under its own (safe-named) target: the
    * FIFTH layered-source shape, next to archive / ogc / rest / wfs. */
  def runAtom(spark: SparkSession, dir: String): DataFrame = {
    val wire = Tables.scratch(spark, "graft_atom_wire")
    val (feed, files) = graft.sources.Ingest.buildAtomWire(spark, dir)
    feed.write.mode("overwrite").parquet(s"$wire/feed")
    files.write.mode("overwrite").parquet(s"$wire/files")
    val json =
      s"""{
         |  "sources": [
         |    {"name": "atom_feed", "path": "$wire", "format": "atom",
         |     "filterServices": true}
         |  ],
         |  "load": {"target": "${Tables.scratch(spark, "graft_pipeline_atom")}", "mode": "truncate"}
         |}""".stripMargin
    Pipeline.run(spark, PipelineCfg.fromJson(json))
  }

  /** Run-time source subset (run.py:246-247 `--authority`/`--type`,
    * :189-192 exact-match filters): the mixed-authority document runs
    * with `runFilter {authority: FM, sourceType: parquet}` — the NVV
    * source, the csv-typed source, and the untagged source (the
    * reference's `s.get("authority") == arg` fails a missing key) are
    * all excluded WITHOUT being read, and surface in the summary as
    * `skipped` rows; the disabled source stays invisible (off in the
    * document, not excluded by this run). The skipped csv source
    * deliberately points at a parquet file: a skip must short-circuit
    * before any read is planned. */
  def runFiltered(spark: SparkSession, dir: String): DataFrame = {
    val json =
      s"""{
         |  "sources": [
         |    {"name": "orders_f", "path": "$dir/orders.parquet",
         |     "authority": "FM", "where": "o_orderstatus = 'F'"},
         |    {"name": "customer_seg", "path": "$dir/customer.parquet",
         |     "authority": "FM",
         |     "select": ["c_custkey", "c_name", "c_mktsegment"],
         |     "where": "c_mktsegment = 'BUILDING'"},
         |    {"name": "lineitem_nvv", "path": "$dir/lineitem.parquet",
         |     "authority": "NVV"},
         |    {"name": "region_csv", "path": "$dir/region.parquet",
         |     "authority": "FM", "format": "csv"},
         |    {"name": "nation_untagged", "path": "$dir/nation.parquet"},
         |    {"name": "disabled_src", "path": "$dir/region.parquet", "enabled": false}
         |  ],
         |  "runFilter": {"authority": "FM", "sourceType": "parquet"},
         |  "load": {"target": "${Tables.scratch(spark, "graft_pipeline_filtered")}",
         |           "mode": "truncate"}
         |}""".stripMargin
    Pipeline.run(spark, PipelineCfg.fromJson(json))
  }

  /** The same declarative run published through MANIFEST COMMIT (the
    * S3-safe mode, load `"publish": "manifest"`): data lands once in
    * immutable version directories, the commit is one tiny manifest PUT.
    * The summary row per source reports the run's reconcile AND the
    * count a downstream READER gets by resolving the manifest
    * ([[Pipeline.resolvePublished]]) — the oracle proves the committed
    * bytes, not just the writer's bookkeeping, match the source. */
  def runManifest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val target = Tables.scratch(spark, "graft_pipeline_manifest")
    val json =
      s"""{
         |  "sources": [
         |    {"name": "orders_f", "path": "$dir/orders.parquet",
         |     "where": "o_orderstatus = 'F'"},
         |    {"name": "customer_seg", "path": "$dir/customer.parquet",
         |     "select": ["c_custkey", "c_name", "c_mktsegment"],
         |     "where": "c_mktsegment = 'BUILDING'"}
         |  ],
         |  "load": {"target": "$target", "mode": "truncate", "publish": "manifest"}
         |}""".stripMargin
    val summary = Pipeline.run(spark, PipelineCfg.fromJson(json)).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // reader-side reconcile THROUGH the manifest
    val rows = summary.map { case (src, loaded) =>
      val live = Pipeline.resolvePublished(spark, target, src)
      (src, loaded, spark.read.parquet(live: _*).count())
    }
    rows.toSeq.toDF("source", "rows_loaded", "rows_resolved")
      .orderBy(col("source"))
  }

  /** Manifest-publish the `orders` rows matching `where` into `target` as
    * source `name`: the one-source snapshot document the generation demos
    * below run once per generation. */
  private def publishOrders(spark: SparkSession, dir: String, target: String,
      where: String, name: String = "orders_snap", mode: String = "truncate"): Unit = {
    val json =
      s"""{
         |  "sources": [
         |    {"name": "$name", "path": "$dir/orders.parquet",
         |     "where": "$where"}
         |  ],
         |  "load": {"target": "$target", "mode": "$mode", "publish": "manifest"}
         |}""".stripMargin
    Pipeline.run(spark, PipelineCfg.fromJson(json)).collect(): Unit
  }

  /** One stats row of a resolved generation, read from its parquet:
    * (label, n_rows, n_keys, min_key, max_key) over `o_orderkey`. */
  private def gen(spark: SparkSession, label: String,
      paths: Seq[String]): (String, Long, Long, Long, Long) = {
    val r = spark.read.parquet(paths: _*)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("o_orderkey")).as("n_keys"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key")).head()
    (label, r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  /** TIME TRAVEL over a manifest-published target (H1h): two truncate
    * generations of the same source land under one target — first the
    * 'F'-status orders, then the 'O'-status orders supersede them — and
    * a READER then resolves BOTH: the live generation through the
    * manifest ([[Pipeline.resolvePublished]]) and the superseded one
    * through the `_GRAFT_PREV` ledger
    * ([[Pipeline.resolvePrevGeneration]]), whose one-generation GC grace
    * is exactly what makes the pinned read safe. Both generations'
    * stats are computed from the RESOLVED parquet — the oracle proves
    * the time-traveled bytes, not writer bookkeeping, match the source
    * at each point in time. */
  def runTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val target = Tables.scratch(spark, "graft_pipeline_travel")
    publishOrders(spark, dir, target, "o_orderstatus = 'F'")
    publishOrders(spark, dir, target, "o_orderstatus = 'O'")
    Seq(gen(spark, "current", Pipeline.resolvePublished(spark, target, "orders_snap")),
        gen(spark, "previous", Pipeline.resolvePrevGeneration(spark, target, "orders_snap")))
      .toDF("generation", "n_rows", "n_keys", "min_key", "max_key")
      .orderBy(col("generation"))
  }

  /** H1i: zero-copy SHALLOW CLONE of a manifest-published target
    * ([[Pipeline.clonePublish]]): the 'F' orders publish, the clone
    * captures that generation with ONE manifest PUT (zero data files
    * under the clone — spec-asserted), then the SOURCE evolves to
    * generation 2 ('O' orders). The clone still resolves the pinned 'F'
    * snapshot while the source's live read sees 'O'. Both rows are
    * computed from the RESOLVED parquet — the oracle proves the pinned
    * bytes survive the source's evolution, not writer bookkeeping. */
  def runClone(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val srcTgt = Tables.scratch(spark, "graft_clone_src")
    val cloneTgt = Tables.scratch(spark, "graft_clone_dst")
    publishOrders(spark, dir, srcTgt, "o_orderstatus = 'F'")
    Pipeline.clonePublish(spark, srcTgt, "orders_snap", cloneTgt, "orders_clone")
    publishOrders(spark, dir, srcTgt, "o_orderstatus = 'O'")
    // the two generation reads are independent parquet scans: run them
    // concurrently instead of as two serial jobs
    graft.operators.ParJobs.run(spark, "graft clone gens", threads = 2)(Seq(
        () => gen(spark, "clone_pinned",
          Pipeline.resolvePublished(spark, cloneTgt, "orders_clone")),
        () => gen(spark, "source_live",
          Pipeline.resolvePublished(spark, srcTgt, "orders_snap"))))
      .toDF("view_name", "n_rows", "n_keys", "min_key", "max_key")
      .orderBy(col("view_name"))
  }

  /** H1j: VACUUM of a manifest-published target ([[Pipeline.vacuum]]):
    * three truncate generations publish ('F' → 'O' → 'P'; the publish GC
    * retires gen 1 with its one-generation grace), a crashed writer's
    * ORPHAN version dir is planted (stamp 0 — older than everything,
    * never manifested), and vacuum sweeps exactly that orphan while both
    * ledgered generations survive. The report computes live and previous
    * stats from the RESOLVED parquet AFTER the vacuum — proving the
    * sweep deleted the garbage and ONLY the garbage — with the
    * kept/deleted dir counts on each row. */
  def runVacuum(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val target = Tables.scratch(spark, "graft_pipeline_vacuum")
    Seq("'F'", "'O'", "'P'").foreach { st =>
      publishOrders(spark, dir, target, s"o_orderstatus = $st")
    }
    // the crashed writer: a version dir with data but no manifest entry
    graft.io.ParquetSchemas.read(spark, s"$dir/orders.parquet").filter(col("o_orderkey") < 40)
      .write.mode("overwrite").parquet(s"$target/orders_snap/v_0_0_0")
    val (kept, deleted) = Pipeline.vacuum(spark, target, "orders_snap")
    Seq(gen(spark, "live", Pipeline.resolvePublished(spark, target, "orders_snap")),
        gen(spark, "previous", Pipeline.resolvePrevGeneration(spark, target, "orders_snap")))
      .map { case (label, n, keys, lo, hi) =>
        (label, n, keys, lo, hi, kept.toLong, deleted.toLong)
      }
      .toDF("generation", "n_rows", "n_keys", "min_key", "max_key",
        "n_dirs_kept", "n_orphans_deleted")
      .orderBy(col("generation"))
  }
  /** Config-listed WFS typename sweep (download_wfs.py:176
    * `download_wfs_service`: the config names N typed layers to pull from
    * one service; each stages as its own feature class). The typename
    * set comes from the CONFIG document — the third layered-source shape
    * next to data-discovered container layers and OGC collections. */
  def runWfs(spark: SparkSession, dir: String): DataFrame = {
    val json =
      s"""{
         |  "sources": [
         |    {"name": "wfs_segments", "path": "$dir/customer.parquet",
         |     "typenameColumn": "c_mktsegment",
         |     "typenames": ["BUILDING", "MACHINERY", "AUTOMOBILE"]}
         |  ],
         |  "load": {"target": "${Tables.scratch(spark, "graft_pipeline_wfs")}", "mode": "truncate"}
         |}""".stripMargin
    Pipeline.run(spark, PipelineCfg.fromJson(json))
  }

  /** H1m: RESTORE — rollback-as-a-forward-commit ([[Pipeline.restore]]).
    * Generation 1 ('F' orders) publishes, generation 2 ('O') supersedes
    * it, then restore swings the manifest BACK to the 'F' generation
    * with zero data movement; the 'O' generation becomes the retained
    * previous, so a second restore reverts the restore (swap semantics,
    * proven by the third row). Every row is computed from the RESOLVED
    * parquet through the reader path, never writer bookkeeping. */
  def runRestore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val target = Tables.scratch(spark, "graft_pipeline_restore")
    publishOrders(spark, dir, target, "o_orderstatus = 'F'")
    publishOrders(spark, dir, target, "o_orderstatus = 'O'")
    Pipeline.restore(spark, target, "orders_snap")
    val afterRestore = Seq(
      gen(spark, "live_restored", Pipeline.resolvePublished(spark, target, "orders_snap")),
      gen(spark, "superseded", Pipeline.resolvePrevGeneration(spark, target, "orders_snap")))
    Pipeline.restore(spark, target, "orders_snap") // restore the restore
    (afterRestore :+
      gen(spark, "live_reverted", Pipeline.resolvePublished(spark, target, "orders_snap")))
      .toDF("generation", "n_rows", "n_keys", "min_key", "max_key")
      .orderBy(col("generation"))
  }

  /** H1n: EXPIRE retained history ([[Pipeline.expirePrev]]) — the
    * deliberate end of time travel: after two generations publish, the
    * expiry deletes the previous generation's ledger AND its version
    * directory; the live read is byte-identical through the reader
    * path, the previous generation resolves EMPTY, and a restore
    * afterward REFUSES (the report proves all three). */
  def runExpire(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val target = Tables.scratch(spark, "graft_pipeline_expire")
    publishOrders(spark, dir, target, "o_orderstatus = 'F'")
    publishOrders(spark, dir, target, "o_orderstatus = 'O'")
    val nExpired = Pipeline.expirePrev(spark, target, "orders_snap")
    val prevLeft = Pipeline.resolvePrevGeneration(spark, target, "orders_snap")
    val restoreRefused =
      try { Pipeline.restore(spark, target, "orders_snap"); 0L }
      catch { case _: IllegalArgumentException => 1L }
    val (label, n, keys, lo, hi) =
      gen(spark, "live", Pipeline.resolvePublished(spark, target, "orders_snap"))
    Seq((label, n, keys, lo, hi, nExpired.toLong, prevLeft.size.toLong, restoreRefused))
      .toDF("generation", "n_rows", "n_keys", "min_key", "max_key",
        "n_expired", "prev_versions_left", "restore_refused")
  }

  /** H1o: snapshot DIFF ([[Pipeline.diffGenerations]]) — two truncate
    * generations over OVERLAPPING key slices (keys mod 3 ∈ {0,1} then
    * mod 3 ∈ {1,2}), then the report joins the ledger-level answer
    * (which version dirs were added/superseded — zero data reads) with
    * the row-level answer (anti/semi joins over the two RESOLVED
    * generations): added keys (mod 3 = 2), removed keys (mod 3 = 0),
    * unchanged keys (mod 3 = 1). The oracle recomputes all three slices
    * from the raw table — proving the resolved generations carry
    * exactly the published bytes. */
  def runDiff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val target = Tables.scratch(spark, "graft_pipeline_diff")
    publishOrders(spark, dir, target, "o_orderkey % 3 < 2")
    publishOrders(spark, dir, target, "o_orderkey % 3 > 0")
    val (addedV, removedV, keptV) =
      Pipeline.diffGenerations(spark, target, "orders_snap")
    val live = spark.read.parquet(
      Pipeline.resolvePublished(spark, target, "orders_snap"): _*)
    val prev = spark.read.parquet(
      Pipeline.resolvePrevGeneration(spark, target, "orders_snap"): _*)
    def stats(label: String, nVer: Long, rows: DataFrame) = {
      val r = rows.agg(countDistinct(col("o_orderkey")).as("n_keys"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key")).head()
      (label, nVer, r.getLong(0), r.getLong(1), r.getLong(2))
    }
    Seq(
      stats("added", addedV.size.toLong,
        live.join(prev, Seq("o_orderkey"), "left_anti")),
      stats("removed", removedV.size.toLong,
        prev.join(live, Seq("o_orderkey"), "left_anti")),
      stats("unchanged", keptV.size.toLong,
        live.join(prev, Seq("o_orderkey"), "left_semi")))
      .toDF("change", "n_versions", "n_keys", "min_key", "max_key")
      .orderBy(col("change"))
  }

  /** H1p: INCREMENTAL READ ([[Pipeline.readIncremental]]) — three
    * append publishes of disjoint key slices; a cursor-file consumer
    * reads after the second (both pending versions), after the third
    * (just the new one), and once more with nothing new (empty — the
    * exactly-once-per-commit contract). Every consumed row count is
    * measured by READING the returned version paths; the oracle
    * recomputes the slice sizes from the raw table. */
  def runIncremental(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val target = Tables.scratch(spark, "graft_pipeline_incr")
    def publish(where: String): Unit =
      publishOrders(spark, dir, target, where, name = "orders_inc", mode = "append")
    def consume(call: Long, seenBefore: Long): (Long, Long, Long, Long) = {
      val fresh = Pipeline.readIncremental(spark, target, "orders_inc", "c1")
      val n = if (fresh.isEmpty) 0L
        else spark.read.parquet(fresh: _*).count()
      (call, fresh.size.toLong, n, seenBefore + n)
    }
    publish("o_orderkey % 4 = 0")
    publish("o_orderkey % 4 = 1")
    val c1 = consume(1L, 0L)
    publish("o_orderkey % 4 = 2")
    val c2 = consume(2L, c1._4)
    val c3 = consume(3L, c2._4)
    Seq(c1, c2, c3)
      .toDF("call", "n_new_versions", "n_new_rows", "n_rows_seen_total")
      .orderBy(col("call"))
  }

  /** H1l: BRANCHED PUBLISHING — the Nessie/Iceberg-branch flow over the
    * manifest layout: a branch is one more tiny pointer file pinned to
    * the generation it forked from; branch writes land as ordinary
    * immutable version dirs but swing only the branch pointer (main
    * readers never see them); merge is FAST-FORWARD ONLY — it succeeds
    * exactly when main still is the recorded fork base, and a diverged
    * main yields a refused "conflict" that changes nothing on either
    * side. The demo drives the full life cycle: publish → branch →
    * isolated branch write → clean merge → diverge → refused merge,
    * reading main AND branch back through their pointers at each step. */
  def runBranch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val target = Tables.scratch(spark, "graft_pipeline_branch")
    val name = "orders_br"
    val base = new Path(target, name)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(base, true): Unit
    val orders = graft.io.ParquetSchemas.read(spark, s"$dir/orders.parquet")
    def slice(st: String) = orders.filter(col("o_orderstatus") === st)
    def publishMain(st: String): Unit = {
      val verName = s"v_${System.currentTimeMillis()}_" +
        s"${ProcessHandle.current().pid()}_m$st"
      slice(st).write.mode("overwrite").parquet(new Path(base, verName).toString)
      Pipeline.writeManifest(fs, fs.makeQualified(base), Seq(verName))
    }
    def mainRows: Long = {
      val live = Pipeline.resolvePublished(spark, target, name)
      if (live.isEmpty) 0L else spark.read.parquet(live: _*).count()
    }
    def branchRows(b: String): Long = {
      val live = Pipeline.resolveBranch(spark, target, name, b)
      if (live.isEmpty) 0L else spark.read.parquet(live: _*).count()
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long, Long, String)]
    publishMain("F")
    out += ((1L, "publish_main", mainRows, 0L, "published"))
    Pipeline.branchCreate(spark, target, name, "exp")
    Pipeline.branchPublish(spark, target, name, "exp", slice("O"))
    out += ((2L, "branch_write", mainRows, branchRows("exp"), "isolated"))
    val m1 = Pipeline.branchMerge(spark, target, name, "exp")
    out += ((3L, "merge", mainRows, branchRows("exp"), m1))
    Pipeline.branchCreate(spark, target, name, "exp2")
    publishMain("P") // main moves past exp2's fork base
    Pipeline.branchPublish(spark, target, name, "exp2", slice("F"))
    out += ((4L, "diverge", mainRows, branchRows("exp2"), "isolated"))
    val m2 = Pipeline.branchMerge(spark, target, name, "exp2")
    out += ((5L, "merge_diverged", mainRows, branchRows("exp2"), m2))
    out.toSeq.toDF("step_ord", "step", "main_rows", "branch_rows", "outcome")
      .orderBy(col("step_ord"))
  }

  /** H1k: WRITE-AUDIT-PUBLISH — the lakehouse CI gate (the
    * Iceberg/Netflix WAP pattern): every load stages into an UNPUBLISHED
    * immutable version directory, the D35 constraint audit runs against
    * the STAGED BYTES (not the in-memory frame — what got written is
    * what gets judged), and only a clean audit swings the manifest.
    * A failed audit leaves the manifest — and every reader — exactly
    * where it was; the rejected version dir stays on disk unmanifested
    * for forensics, which is precisely the orphan class the H1j vacuum
    * exists to sweep later.
    *
    * Two staged attempts: the constraint-clean slice of lineitem
    * (audit passes → published) then the violating complement (audit
    * fails → rejected). The report reads live state back THROUGH the
    * manifest after each attempt, proving the reject left the published
    * generation untouched. One shared constraint list (D35/G16/H1k). */
  def runWap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val target = Tables.scratch(spark, "graft_pipeline_wap")
    val name = "lineitem_gate"
    val base = new Path(target, name)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(base, true): Unit // idempotent re-run
    val li = Tables(spark, dir).lineitem
    val pass = graft.operators.LoadOps.checkConstraintDefs.map(_._2).reduce(_ && _)
    val batches = Seq((1, li.filter(pass)), (2, li.filter(!pass)))
    val rows = batches.map { case (attempt, batch) =>
      val verName = s"v_${System.currentTimeMillis()}_${ProcessHandle.current().pid()}_$attempt"
      val verDir = new Path(base, verName)
      batch.write.mode("overwrite").parquet(verDir.toString)
      val report = graft.operators.LoadOps
        .checkConstraintsOf(spark.read.parquet(verDir.toString)).collect()
      val nRows = report.head.getLong(1)
      val nViol = report.map(_.getLong(2)).sum
      val decision =
        if (nViol == 0L) {
          Pipeline.writeManifest(fs, fs.makeQualified(base), Seq(verName))
          "published"
        } else "rejected"
      val live = Pipeline.resolvePublished(spark, target, name)
      val liveRows = if (live.isEmpty) 0L else spark.read.parquet(live: _*).count()
      (attempt.toLong, nRows, nViol, decision, live.size.toLong, liveRows)
    }
    rows.toDF("attempt", "staged_rows", "n_viol", "decision",
        "live_versions", "live_rows")
      .orderBy(col("attempt"))
  }
}
