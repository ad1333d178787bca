package graft.config

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.io.ParquetSchemas
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Declarative pipeline config — the Spark-native analogue of op-etl's
  * config.yaml (/root/reference/config/config.yaml, etl/config.py): one
  * document describing sources × {stage, geoprocess, load}, with per-source
  * enable flags and a global geoprocess/load policy.
  *
  * JSON instead of YAML (Jackson ships with Spark; zero new deps).
  */
case class SourceCfg(
    name: String,
    path: String,
    format: String = "parquet",      // parquet | csv | json | esrijson | archive | ogc | rest
    enabled: Boolean = true,
    // the operating authority the source belongs to (sources.yaml
    // `authority:` — the reference's run-filter key; dataset GROUPING
    // still derives from the name prefix, matching load_sde.py)
    authority: Option[String] = None,
    where: Option[String] = None,    // staged-row filter (reference: bbox/where params)
    select: Option[Seq[String]] = None,
    // OID-sweep ingest (download_rest.py use_oid_sweep): ranged parallel read
    oidSweep: Option[OidSweepCfg] = None,
    // WFS multi-typename sweep (download_wfs.py:176 download_wfs_service:
    // a CONFIG-listed set of typed layers pulled from one service, each
    // staged as its own feature class — unlike archive/ogc, the layer set
    // comes from the config document, not from the data)
    typenames: Option[Seq[String]] = None,
    typenameColumn: Option[String] = None,
    // the remote service address the source models (the reference's
    // source["url"]). Only consulted as the typename FALLBACK
    // (download_wfs.py:184-188): when the config omits `typenames`, a
    // `typeName=` query parameter embedded in the URL names the single
    // typed layer to pull.
    url: Option[String] = None,
    // REST layer-discovery include patterns (download_rest.py:215
    // discover_layers + fnmatch: `include: ["road*"]` keeps only matching
    // layer names; unset keeps every discovered layer). format "rest" only.
    include: Option[Seq[String]] = None,
    // Atom service-link gate (download_atom.py:142 `raw.filter_services`):
    // when set, filterable service URLs in feed entries are followed via
    // the bbox-bypass path; off (the reference default), only enclosure /
    // zip-content-type links download. format "atom" only.
    filterServices: Boolean = false,
    // per-source geoprocess override, field-merged over the global policy
    // (config.py:105 _apply_bbox_inheritance: a source-level value always
    // wins; unset fields inherit the defaults)
    geoprocess: Option[GeoOverrideCfg] = None)

case class OidSweepCfg(keyColumn: String, batches: Int = 16)

case class GeoprocessCfg(
    enabled: Boolean = false,
    xColumn: Option[String] = None,
    yColumn: Option[String] = None,
    aoi: Option[Seq[Double]] = None) // [xmin, ymin, xmax, ymax]

/** Per-source geoprocess override: every field optional — set fields win,
  * unset fields inherit the pipeline-level [[GeoprocessCfg]] (the
  * reference's bbox/defaults inheritance, config.py:105/:131). */
case class GeoOverrideCfg(
    enabled: Option[Boolean] = None,
    xColumn: Option[String] = None,
    yColumn: Option[String] = None,
    aoi: Option[Seq[Double]] = None) {
  def mergedOver(g: GeoprocessCfg): GeoprocessCfg = GeoprocessCfg(
    enabled = enabled.getOrElse(g.enabled),
    xColumn = xColumn.orElse(g.xColumn),
    yColumn = yColumn.orElse(g.yColumn),
    aoi = aoi.orElse(g.aoi))
}

/** Load policy. `resolveDatasets` turns on the reference's SDE
  * destination-resolution protocol (load_sde.py:145
  * `resolve_sde_destination` + run():66-78): the authority prefix of the
  * source name (before the first underscore) groups destinations into an
  * `Underlag_{AUTHORITY}` feature dataset — created if absent, with
  * fallback to the target ROOT when creation fails — and the destination
  * name drops the authority prefix and any file extension. Off (default),
  * destinations keep flat `target/<sanitized-source-name>` naming.
  *
  * `publish` picks how a load commits. `rename` (default) stages next to
  * the destination and renames it into place: atomic and instant on HDFS.
  * `manifest` never moves data: each load writes a NEW immutable version
  * directory and then rewrites one tiny manifest object LAST, so the
  * commit is one small PUT at any data size. On S3-like stores, where a
  * directory rename is an O(data) copy, use `manifest`. It is a field of
  * the document, not a session setting, so one run's choice cannot leak
  * into another run on the same session. */
case class LoadCfg(target: String, mode: String = "truncate", // truncate | append
    resolveDatasets: Boolean = false,
    publish: String = "rename") { // rename | manifest

  /** True for manifest publish; any value but `rename`/`manifest` throws. */
  def manifestPublish: Boolean = publish match {
    case "manifest" => true
    case "rename"   => false
    case other => throw new IllegalArgumentException(
      s"load.publish=$other (expected rename|manifest)")
  }
}

/** Step gating — run.py's `--download --process --load_sde` flags: any
  * stage can be toggled per run. */
case class StepsCfg(stage: Boolean = true, process: Boolean = true, load: Boolean = true)

/** Declarative run filter — run.py:246-247's `--authority` / `--type`
  * CLI filters (run.py:189-192: exact match against the source document's
  * `authority:` / `type:` fields): run the pipeline for one authority or
  * source type without editing the document. Both fields optional; a set
  * field must match EXACTLY (a source with no `authority` fails an
  * authority filter, mirroring the reference's `s.get(...) == arg`).
  * Filtered-out enabled sources still surface in the run summary as
  * `skipped` rows, so a filtered run is auditable, not silent. */
case class RunFilterCfg(
    authority: Option[String] = None,
    sourceType: Option[String] = None) {
  def passes(s: SourceCfg): Boolean =
    authority.forall(a => s.authority.contains(a)) &&
      sourceType.forall(t => s.format == t)
}

/** Per-environment overlay (config.yaml `environment: development |
  * staging | production`, overridable at run time by `ETL_ENVIRONMENT`):
  * every field optional — set fields replace the pipeline-level value,
  * unset fields inherit it, the same merge discipline as
  * [[GeoOverrideCfg]] one level up. The canonical use is a per-
  * environment load target (the reference's per-environment SDE
  * connection) and gentler dev defaults (cleanup off, load off).
  * Precedence when applied: per-SOURCE overrides still win over the
  * environment (they are more specific), the environment wins over the
  * global document. */
case class EnvOverlayCfg(
    geoprocess: Option[GeoOverrideCfg] = None,
    loadTarget: Option[String] = None,
    loadMode: Option[String] = None,
    resolveDatasets: Option[Boolean] = None,
    stepStage: Option[Boolean] = None,
    stepProcess: Option[Boolean] = None,
    stepLoad: Option[Boolean] = None,
    cleanupBeforeRun: Option[Boolean] = None,
    sanitizeNames: Option[Boolean] = None)

case class PipelineCfg(
    sources: Seq[SourceCfg],
    geoprocess: GeoprocessCfg = GeoprocessCfg(),
    load: Option[LoadCfg] = None,
    sanitizeNames: Boolean = true,
    steps: StepsCfg = StepsCfg(),
    // run-time source subset (run.py --authority/--type); None = run all
    runFilter: Option[RunFilterCfg] = None,
    // run.py cleanup_*_before_run: clear the load target before loading
    cleanupBeforeRun: Boolean = false,
    // config.yaml `environment:` — the document's default environment
    environment: Option[String] = None,
    // named overlays; the active one folds into the document at run time
    environments: Map[String, EnvOverlayCfg] = Map.empty) {

  /** Fold the active environment's overlay into the document. The active
    * name is `ETL_ENVIRONMENT` (the reference's documented override) when
    * set, else the document's `environment:` field. Naming an environment
    * that is not declared in `environments` FAILS LOUDLY — a typo'd
    * `ETL_ENVIRONMENT=prodcution` silently running development settings
    * against a production target is exactly the hazard an environment
    * layer exists to prevent. With no `environments` declared the feature
    * is off and the document passes through unchanged. Idempotent, so
    * [[Pipeline.run]] can resolve unconditionally. */
  def resolveEnvironment(
      envVar: Option[String] = sys.env.get("ETL_ENVIRONMENT")): PipelineCfg = {
    val active = envVar.filter(_.nonEmpty).orElse(environment)
    (active, environments.isEmpty) match {
      case (None, _) | (_, true) => this
      case (Some(name), _) =>
        val o = environments.getOrElse(name, throw new IllegalArgumentException(
          s"environment '$name' not declared (have: ${environments.keys.toSeq.sorted.mkString(", ")})"))
        copy(
          geoprocess = o.geoprocess.map(_.mergedOver(geoprocess)).getOrElse(geoprocess),
          load = load.map(l => l.copy(
              target = o.loadTarget.getOrElse(l.target),
              mode = o.loadMode.getOrElse(l.mode),
              resolveDatasets = o.resolveDatasets.getOrElse(l.resolveDatasets)))
            .orElse(o.loadTarget.map(t => LoadCfg(t,
              o.loadMode.getOrElse("truncate"),
              o.resolveDatasets.getOrElse(false)))),
          steps = StepsCfg(
            stage = o.stepStage.getOrElse(steps.stage),
            process = o.stepProcess.getOrElse(steps.process),
            load = o.stepLoad.getOrElse(steps.load)),
          cleanupBeforeRun = o.cleanupBeforeRun.getOrElse(cleanupBeforeRun),
          sanitizeNames = o.sanitizeNames.getOrElse(sanitizeNames))
    }
  }
}

object PipelineCfg {
  private val mapper = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    .configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)

  def fromJson(json: String): PipelineCfg = mapper.readValue(json, classOf[PipelineCfg])
}

/** Executes a [[PipelineCfg]]: download/stage → geoprocess → load, one
  * source at a time (each step fully distributed), returning the run
  * summary the reference's PipelineMonitor would log
  * (monitoring.py SourceMetrics: per-source success + feature counts).
  */
object Pipeline {

  def stage(spark: SparkSession, src: SourceCfg): DataFrame = {
    val raw = src.format match {
      case "csv"  => spark.read.option("header", "true").option("inferSchema", "true").csv(src.path)
      case "json" => spark.read.json(src.path)
      case "archive" =>
        // container source (stage_files.py:645 import_zip / :403
        // discover_gpkg_layers / :316 import_file_to_staging): sniff the
        // magic, DISCOVER the layers inside the container, and unpack to
        // record rows. Discovered layer names are sanitized to safe
        // feature-class names at staging time (utils.py safe naming),
        // so each layer can be loaded under its own target directory.
        graft.sources.Ingest.unpackRecords(ParquetSchemas.read(spark, src.path))
          .withColumn("layer_name", graft.operators.Staging.safeName(col("layer_name")))
      case "ogc" =>
        // OGC service source (download_ogc.py): `$path/service` holds the
        // /collections document, `$path/pages` the paged responses;
        // discover → verify every next-link chain → land records ONLY
        // from chain-complete collections, each staged as its own layer
        graft.sources.Ingest.stageOgcRecords(
            ParquetSchemas.read(spark, s"${src.path}/service"),
            ParquetSchemas.read(spark, s"${src.path}/pages"))
          .withColumn("layer_name", graft.operators.Staging.safeName(col("layer_name")))
      case "atom" =>
        // Atom feed source (download_atom.py): `$path/feed` holds the
        // feed documents, `$path/files` the href-addressed records;
        // parse entries, classify every link (enclosure / zip
        // content-type → download; filterable service URL → service,
        // gated by the source's filterServices), and land each
        // download-class link's records as its own per-entry layer
        graft.sources.Ingest.stageAtomRecords(
            ParquetSchemas.read(spark, s"${src.path}/feed"),
            ParquetSchemas.read(spark, s"${src.path}/files"),
            src.filterServices)
          .withColumn("layer_name", graft.operators.Staging.safeName(col("layer_name")))
      case "esrijson" =>
        // Esri JSON response payloads (stage_files.py:602
        // import_esri_json): `$path` holds the raw response docs; the
        // typed parse lands features[].attributes + point geometries
        graft.sources.Ingest.parseEsriFeatures(ParquetSchemas.read(spark, src.path))
      case "rest" =>
        // REST service source (download_rest.py): `$path/service` holds
        // the service docs, `$path/layers` the layer-addressed features;
        // discover layers (config include patterns filter by wildcard,
        // single-layer FeatureServer docs fall back to themselves) and
        // land each discovered layer's features as its own staged layer
        graft.sources.Ingest.stageRestRecords(
            ParquetSchemas.read(spark, s"${src.path}/service"),
            ParquetSchemas.read(spark, s"${src.path}/layers"),
            src.include.getOrElse(Seq.empty))
          .withColumn("layer_name", graft.operators.Staging.safeName(col("layer_name")))
      case _      => ParquetSchemas.read(spark, src.path)
    }
    val swept = src.oidSweep match {
      case Some(OidSweepCfg(key, n)) =>
        // ranged parallel batches, unioned — each range is an independent
        // pushed-down scan, modeling the reference's parallel OID paging
        // where every page is a separate remote fetch. On a partitioned
        // source each range prunes to its own splits; on the flat test
        // file this re-reads per range, which is why the REGISTERED A4
        // query is the single-scan form (Ingest.restOidSweep) and the
        // ranged union lives here, where it mirrors download structure
        val (minK, maxK, page) = graft.sources.Ingest.keySpace(raw, key, n)
        (minK to maxK by page).map { lo =>
          raw.filter(col(key) >= lo && col(key) < lo + page)
        }.reduce(_ union _)
      case None => raw
    }
    // config-listed typename sweep: keep ONLY the requested typed layers
    // and tag each row with its (sanitized) layer so the layered load
    // path stages every typename under its own target. Config typenames
    // win; when absent, a `typeName=` parameter embedded in the source
    // URL names the layer (download_wfs.py:184-188 — the reference takes
    // the substring after the first `typeName=` up to the next `&`).
    // Half-specified configs fail HERE with a clear message, not at the
    // partitioned write with a missing-column error.
    val typenames = resolvedTypenames(src)
    require(typenames.isDefined == src.typenameColumn.isDefined,
      s"source '${src.name}': typenameColumn must be set together with " +
        "typenames (or a typeName= parameter on the source url)")
    val typed = (typenames, src.typenameColumn) match {
      case (Some(names), Some(column)) =>
        swept.filter(col(column).isin(names: _*))
          .withColumn("layer_name", graft.operators.Staging.safeName(col(column)))
      case _ => swept
    }
    // a select on a layered source must keep the synthetic layer column —
    // the user cannot be expected to list an internally-generated name
    val selected = src.select.map { cols =>
      val keep = if (isLayered(src) && !cols.contains("layer_name"))
        cols :+ "layer_name" else cols
      typed.select(keep.map(col): _*)
    }.getOrElse(typed)
    src.where.map(selected.filter).getOrElse(selected)
  }

  /** The typename set a source sweeps: the config's `typenames` list, or
    * — the reference's fallback, download_wfs.py:184-188 — the single
    * typename carried as a `typeName=` parameter on the source URL (the
    * substring after the first `typeName=` up to the next `&`, exactly
    * the reference's split). The URL is consulted ONLY when
    * `typenameColumn` is set: that field is what declares the source
    * typed in this engine's wire model, so a config that merely carries
    * a WFS-style url (previously ignored entirely) keeps loading
    * un-layered instead of suddenly failing or changing layout. */
  def resolvedTypenames(src: SourceCfg): Option[Seq[String]] =
    src.typenames.orElse(
      src.url.filter(u => src.typenameColumn.isDefined && u.contains("typeName="))
        .map(u => Seq(u.split("typeName=", 2)(1).split("&")(0))))

  /** Layered sources stage one target per layer: DISCOVERED layers
    * (container layers, OGC collections) or CONFIG/URL-listed typenames. */
  def isLayered(src: SourceCfg): Boolean =
    src.format == "archive" || src.format == "ogc" || src.format == "rest" ||
      src.format == "atom" || resolvedTypenames(src).isDefined

  def geoprocess(df: DataFrame, gp: GeoprocessCfg): DataFrame =
    if (!gp.enabled) df
    else (gp.xColumn, gp.yColumn, gp.aoi) match {
      case (Some(x), Some(y), Some(Seq(x0, y0, x1, y1))) =>
        df.filter(col(x) >= x0 && col(x) <= x1 && col(y) >= y0 && col(y) <= y1)
      case _ => df
    }

  private def sanitize(df: DataFrame): DataFrame = {
    val renames = df.columns.map(c => c -> safeNameString(c)).toMap
    df.withColumnsRenamed(renames)
  }

  /** Driver-side twin of Staging.safeName (operates on schema, not data):
    * same rules, same order — sanitize, digit prefix, truncate to 100,
    * reserved-word suffix (utils.py:56/:104). */
  def safeNameString(name: String, maxLength: Int = 100): String = {
    val cleaned = name.toLowerCase.replaceAll("[^a-z0-9]+", "_")
      .replaceAll("^_+|_+$", "")
    val nonEmpty = if (cleaned.isEmpty) "unnamed_fc" else cleaned
    val prefixed = if (nonEmpty.head.isDigit) s"fc_$nonEmpty" else nonEmpty
    val truncated = prefixed.take(maxLength)
    if (graft.operators.Staging.reservedNames.contains(truncated)) s"${truncated}_data"
    else truncated
  }

  /** Authority-prefix split of a staged feature-class name (load_sde.py
    * run(): `authority = fc_name.split('_', 1)[0].upper()`; dataset
    * `Underlag_{AUTHORITY}`; the destination drops the prefix and any
    * extension). Returns (dataset name if an authority prefix exists,
    * sanitized destination name). The extension strips BEFORE
    * sanitization ([[safeNameString]] folds dots into underscores, which
    * would glue ".shp" onto the name). */
  def sdeDatasetAndName(fcName: String): (Option[String], String) = {
    val i = fcName.indexOf('_')
    val (auth, base) =
      if (i > 0 && i < fcName.length - 1) (Some(fcName.substring(0, i)), fcName.substring(i + 1))
      else (None, fcName)
    val stem = base.lastIndexOf('.') match {
      case d if d > 0 => base.substring(0, d)
      case _ => base
    }
    (auth.map(a => s"Underlag_${a.toUpperCase}"), safeNameString(stem))
  }

  /** Destination resolution (load_sde.py:145 `resolve_sde_destination`):
    * with `resolveDatasets` on, place the destination inside its
    * authority's feature dataset — the dataset directory is created if
    * absent ("create feature dataset with same SR as template"; here the
    * schema template is the parquet write itself) and a FAILED creation
    * falls back to the target root rather than failing the load. Without
    * datasets (or without an authority prefix), the destination is
    * `target/<name>` — the reference's "No dataset name determined"
    * branch. */
  def resolveDestination(fs: org.apache.hadoop.fs.FileSystem,
      target: org.apache.hadoop.fs.Path, srcName: String,
      resolveDatasets: Boolean): org.apache.hadoop.fs.Path = {
    import org.apache.hadoop.fs.Path
    if (!resolveDatasets) fs.makeQualified(new Path(target, safeNameString(srcName)))
    else {
      val (dataset, clean) = sdeDatasetAndName(srcName)
      val resolved = dataset.flatMap { ds =>
        val dsPath = new Path(target, ds)
        val created =
          try fs.mkdirs(dsPath) && fs.getFileStatus(dsPath).isDirectory
          catch { case _: Exception => false }
        if (created) Some(new Path(dsPath, clean)) else None // else: root fallback
      }
      fs.makeQualified(resolved.getOrElse(new Path(target, clean)))
    }
  }

  private val verSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  private def manifestFile(base: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(base, "_GRAFT_MANIFEST")

  /** The version-directory names the manifest currently lists (empty when
    * no manifest has been published). One name per line. */
  def readManifest(fs: org.apache.hadoop.fs.FileSystem,
      base: org.apache.hadoop.fs.Path): Seq[String] =
    readLines(fs, manifestFile(base))

  /** Rewrite the manifest to name exactly `live`. `create(overwrite)` +
    * close is one small object write — an atomic PUT on S3A; on HDFS a
    * reader racing the close can at worst see the previous manifest via
    * its own open handle, never torn data, because version directories
    * are immutable once listed. */
  def writeManifest(fs: org.apache.hadoop.fs.FileSystem,
      base: org.apache.hadoop.fs.Path, live: Seq[String]): Unit =
    writeLines(fs, manifestFile(base), live)

  private def prevFile(base: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(base, "_GRAFT_PREV")

  private def writeLines(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, lines: Seq[String]): Unit = {
    val out = fs.create(p, true)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
  }

  private def readLines(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Seq[String] =
    if (!fs.exists(p)) Seq.empty
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.trim).filter(_.nonEmpty).toList
      finally in.close()
    }

  /** Reader-side resolution for manifest-published targets: the full
    * paths of the live version directories of `target/<name>` (empty if
    * nothing published). Readers hand these to `spark.read.parquet`. */
  def resolvePublished(spark: SparkSession, target: String, name: String): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val base = new Path(target, safeNameString(name))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readManifest(fs, fs.makeQualified(base))
      .map(v => new Path(fs.makeQualified(base), v).toString)
  }

  // ---- H1l: branches over manifest-published targets -----------------
  // The Nessie/Iceberg-branch idea reduced to its manifest essence: a
  // branch is ONE more tiny pointer file pinned to the generation it
  // forked from. Branch writes land as ordinary immutable version dirs
  // but swing only the branch pointer — main readers never see them.
  // Merge is FAST-FORWARD ONLY: it succeeds exactly when main still is
  // the recorded fork base (anything else is a real conflict, and
  // refusing is the correct primitive — rebase is a policy above it).

  private def branchFile(base: org.apache.hadoop.fs.Path, branch: String) =
    new org.apache.hadoop.fs.Path(base, s"_GRAFT_BRANCH_$branch")

  /** Content hash of a manifest generation — the fork-base fingerprint. */
  def manifestHash(lines: Seq[String]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(lines.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Create `branch` pinned at the target's current published
    * generation. The branch file records the fork base's hash first,
    * then the live version list. */
  def branchCreate(spark: SparkSession, target: String, name: String,
      branch: String): Unit = {
    import org.apache.hadoop.fs.Path
    val base = new Path(target, safeNameString(name))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = readManifest(fs, fs.makeQualified(base))
    require(live.nonEmpty, s"cannot branch unpublished target $target/$name")
    writeLines(fs, branchFile(fs.makeQualified(base), branch),
      s"base=${manifestHash(live)}" +: live)
  }

  /** Publish a truncate generation ONTO a branch: an ordinary immutable
    * version write plus a rewrite of the branch pointer only. */
  def branchPublish(spark: SparkSession, target: String, name: String,
      branch: String, df: DataFrame): String = {
    import org.apache.hadoop.fs.Path
    val base = new Path(target, safeNameString(name))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bf = branchFile(fs.makeQualified(base), branch)
    val lines = readLines(fs, bf)
    require(lines.nonEmpty, s"no such branch $branch")
    val verName = s"v_${System.currentTimeMillis()}_" +
      s"${ProcessHandle.current().pid()}_${verSeq.incrementAndGet()}"
    df.write.mode("overwrite").parquet(new Path(base, verName).toString)
    writeLines(fs, bf, lines.head +: Seq(verName))
    verName
  }

  /** The branch's live version paths (readers hand these to
    * `spark.read.parquet`), empty if the branch does not exist. */
  def resolveBranch(spark: SparkSession, target: String, name: String,
      branch: String): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val base = new Path(target, safeNameString(name))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readLines(fs, branchFile(fs.makeQualified(base), branch))
      .drop(1).map(v => new Path(fs.makeQualified(base), v).toString)
  }

  /** FAST-FORWARD merge: succeeds iff main's manifest still hashes to
    * the branch's recorded fork base — main then swings to the branch's
    * versions (one manifest PUT) and the branch pointer is deleted.
    * Anything else returns "conflict" and changes NOTHING: the branch
    * keeps its versions, main keeps its own, and resolution (rebase,
    * abandon) is the caller's policy. */
  def branchMerge(spark: SparkSession, target: String, name: String,
      branch: String): String = {
    import org.apache.hadoop.fs.Path
    val base0 = new Path(target, safeNameString(name))
    val fs = base0.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = fs.makeQualified(base0)
    val bf = branchFile(base, branch)
    val lines = readLines(fs, bf)
    require(lines.nonEmpty, s"no such branch $branch")
    val live = readManifest(fs, base)
    if (manifestHash(live) != lines.head.stripPrefix("base=")) "conflict"
    else {
      writeManifest(fs, base, lines.drop(1))
      fs.delete(bf, false)
      "fast_forward"
    }
  }

  /** Reader-side TIME TRAVEL for manifest-published targets: the version
    * directories of the generation BEFORE the live one — the
    * `_GRAFT_PREV` ledger, whose versions the truncate GC's full-
    * generation reader grace keeps on disk for exactly one more publish.
    * Empty when the target has fewer than two committed generations.
    * This is the one-step form of the lakehouse version-pinned read:
    * the ledger IS the retention contract, so a resolved previous
    * generation is always fully scannable, never half-collected. */
  def resolvePrevGeneration(spark: SparkSession, target: String, name: String): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val base = new Path(target, safeNameString(name))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readLines(fs, prevFile(fs.makeQualified(base)))
      .map(v => new Path(fs.makeQualified(base), v).toString)
  }

  /** H1m: RESTORE — republish the PREVIOUS generation as the new live
    * generation (Delta `RESTORE TABLE ... VERSION AS OF`, Iceberg
    * rollback, expressed as a FORWARD commit): the rollback is itself a
    * publish, so history keeps moving — after restore, live is the old
    * generation and `_GRAFT_PREV` is the generation that was live just
    * before the restore, which makes restore reversible by one more
    * restore (swap semantics). Zero data movement at any table size:
    * version directories are immutable, so the whole operation is one
    * manifest PUT + one ledger PUT. Nothing is deleted — both
    * generations stay retained, exactly the truncate GC's one-
    * generation reader grace. Returns the restored version count. */
  def restore(spark: SparkSession, target: String, name: String): Int = {
    import org.apache.hadoop.fs.Path
    val base0 = new Path(target, safeNameString(name))
    val fs = base0.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = fs.makeQualified(base0)
    val prev = readLines(fs, prevFile(base))
    require(prev.nonEmpty, s"no previous generation at $target/$name to restore")
    val live = readManifest(fs, base)
    writeManifest(fs, base, prev)
    writeLines(fs, prevFile(base), live)
    prev.size
  }

  /** H1n: EXPIRE the retained previous generation (Iceberg
    * `expire_snapshots` / Delta `VACUUM RETAIN 0 HOURS`, scoped to this
    * layout's one-generation history): deliberately END time travel by
    * deleting the `_GRAFT_PREV` ledger AND the version directories it
    * names (only those absent from the live manifest — a restore may
    * have made a version both live and prev-listed). After expiry the
    * live read is untouched, [[resolvePrevGeneration]] resolves empty,
    * and [[restore]] refuses. This is the storage-reclaim verb VACUUM
    * (H1j) deliberately is NOT: vacuum sweeps never-published orphans,
    * expire retires RETAINED history. Returns the deleted dir count. */
  def expirePrev(spark: SparkSession, target: String, name: String): Int = {
    import org.apache.hadoop.fs.Path
    val base0 = new Path(target, safeNameString(name))
    val fs = base0.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = fs.makeQualified(base0)
    val live = readManifest(fs, base).toSet
    val prev = readLines(fs, prevFile(base))
    val doomed = prev.filterNot(live)
    doomed.foreach { v =>
      val p = new Path(base, v)
      if (fs.exists(p)) fs.delete(p, true): Unit
    }
    if (fs.exists(prevFile(base))) fs.delete(prevFile(base), false): Unit
    doomed.size
  }

  /** H1o: version-set DIFF between the live and previous generations —
    * the `DESCRIBE HISTORY` / snapshot-compare primitive: which
    * immutable version directories a publish added and which it
    * superseded, straight from the two ledgers with ZERO data reads
    * (row-level diffs layer a read over the returned paths; the
    * file-level answer is O(ledger) at any table size). The comparison
    * base is the `_GRAFT_PREV` generation — the one retained by the
    * last TRUNCATE supersede — so appends ACCUMULATE into `added` until
    * the next truncate resets the base (the "changes since the last
    * full rewrite" reading).
    * Returns (added, removed, kept) version names. */
  def diffGenerations(spark: SparkSession, target: String,
      name: String): (Seq[String], Seq[String], Seq[String]) = {
    import org.apache.hadoop.fs.Path
    val base0 = new Path(target, safeNameString(name))
    val fs = base0.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = fs.makeQualified(base0)
    val live = readManifest(fs, base)
    val prev = readLines(fs, prevFile(base))
    (live.filterNot(prev.toSet), prev.filterNot(live.toSet),
      live.filter(prev.toSet))
  }

  private def cursorFile(base: org.apache.hadoop.fs.Path, consumer: String) =
    new org.apache.hadoop.fs.Path(base, s"_GRAFT_CURSOR_$consumer")

  /** H1p: INCREMENTAL READ over an append-published target — the
    * change-data-feed consumption loop reduced to its manifest essence:
    * a consumer group is ONE tiny cursor file recording the version
    * names it has processed; each call resolves the manifest, returns
    * the paths of versions the cursor has NOT seen, and (when
    * `commit`) advances the cursor to the full current manifest.
    * Versions are immutable once listed, so the returned paths are
    * stable snapshots; re-calling without a new publish returns empty —
    * exactly-once per cursor commit, at-least-once if the caller reads
    * before a crash and commits after. O(ledger) bookkeeping at any
    * table size; the data read is bounded by the NEW versions only —
    * the whole point: a 100 TB target's steady-state consumer reads
    * just the appended delta. */
  def readIncremental(spark: SparkSession, target: String, name: String,
      consumer: String, commit: Boolean = true): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val base0 = new Path(target, safeNameString(name))
    val fs = base0.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = fs.makeQualified(base0)
    val live = readManifest(fs, base)
    val seen = readLines(fs, cursorFile(base, consumer)).toSet
    val fresh = live.filterNot(seen)
    if (commit && fresh.nonEmpty)
      writeLines(fs, cursorFile(base, consumer), live)
    fresh.map(v => new Path(base, v).toString)
  }

  /** H1i: ZERO-COPY SHALLOW CLONE of a manifest-published target (the
    * lakehouse `SHALLOW CLONE` move, as in Delta/Iceberg): the clone is a
    * NEW target whose manifest lists the SOURCE's live version
    * directories as ABSOLUTE paths — no data file moves or copies, the
    * entire clone is one tiny manifest PUT, O(1) at any source size.
    * Version directories are immutable once listed, so the clone is a
    * PINNED snapshot: a source republish swings only the source's
    * manifest and the clone keeps resolving the generation it captured.
    * Retention contract (the shallow-clone-vs-VACUUM caveat, here made
    * precise): the source's truncate GC keeps a superseded generation
    * for exactly ONE further publish, so a clone survives one source
    * republish; a clone that must outlive more needs a deep copy or a
    * republish into the clone target. Returns the number of version
    * directories captured. */
  /** H1j: VACUUM for a manifest-published target — the explicit
    * maintenance sweep the publish-time GC deliberately does NOT do:
    * crashed/abandoned writers leave orphan `v_*` version directories
    * that no manifest ever named, and the publish GC leaves them alone
    * (it may only delete versions recorded in its own ledgers, or it
    * could sweep a concurrent writer's in-flight dir). Vacuum deletes a
    * `v_*` child iff it is (a) named by NEITHER the manifest NOR the
    * `_GRAFT_PREV` ledger and (b) STRICTLY OLDER — by the millis stamp
    * embedded in the version name — than the oldest retained version.
    * (b) is the concurrency grace, wall-clock-free: an in-flight writer's
    * dir is newer than the generation it will supersede, so it survives;
    * the caveat (shared with retention-window vacuums everywhere) is a
    * writer slower than a full publish cycle. Clone targets are safe by
    * construction: their manifests list absolute FOREIGN paths and they
    * own no local `v_*` children, so vacuum finds nothing to sweep.
    * Returns (n_dirs_kept, n_orphans_deleted). */
  def vacuum(spark: SparkSession, target: String, name: String): (Int, Int) = {
    import org.apache.hadoop.fs.Path
    val base0 = new Path(target, safeNameString(name))
    val fs = base0.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = fs.makeQualified(base0)
    val retained = (readManifest(fs, base) ++ readLines(fs, prevFile(base))).toSet
    def millisOf(n: String): Long = n.split("_").lift(1)
      .flatMap(s => scala.util.Try(s.toLong).toOption).getOrElse(Long.MaxValue)
    val floor =
      if (retained.isEmpty) Long.MinValue
      else retained.map(millisOf).min
    val children =
      if (!fs.exists(base)) Array.empty[String]
      else fs.listStatus(base).filter(_.isDirectory)
        .map(_.getPath.getName).filter(_.startsWith("v_"))
    val orphans = children.filterNot(retained.contains).filter(n => millisOf(n) < floor)
    orphans.foreach(n => fs.delete(new Path(base, n), true): Unit)
    (children.length - orphans.length, orphans.length)
  }

  def clonePublish(spark: SparkSession, srcTarget: String, srcName: String,
      cloneTarget: String, cloneName: String): Int = {
    import org.apache.hadoop.fs.Path
    val live = resolvePublished(spark, srcTarget, srcName)
    require(live.nonEmpty, s"nothing published at $srcTarget/$srcName to clone")
    val base = new Path(cloneTarget, safeNameString(cloneName))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(base)
    // absolute lines: Path(base, child) keeps an absolute child as-is, so
    // the standard reader resolution serves the clone unchanged
    writeManifest(fs, fs.makeQualified(base), live)
    live.size
  }

  /** Run the full pipeline; returns per-source metrics (source,
    * rows_loaded, status) ordered by source name — status `ok` for every
    * source the run processed (loaded, or staged-only when the load step
    * is gated off) and `skipped` for enabled sources a [[RunFilterCfg]]
    * excluded from this run.
    *
    * All publish filesystem traffic (probe, rename, delete) goes through
    * the Hadoop [[org.apache.hadoop.fs.FileSystem]] resolved from the
    * TARGET's scheme — the same abstraction the writes use — so the
    * write-once-then-reconcile publish works unchanged on HDFS or any
    * Hadoop-FS-backed store, not just the local FS. On object stores
    * without atomic rename — S3 — set the load's `publish` to `manifest`
    * ([[LoadCfg]]): data lands once in an immutable version directory
    * and the commit is one tiny manifest PUT, no rename. */
  def run(spark: SparkSession, cfg0: PipelineCfg): DataFrame = {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    // fold the active environment's overlay in first (idempotent; a typo'd
    // environment name fails here, before anything is staged or deleted)
    val cfg = cfg0.resolveEnvironment()
    // a bad publish value fails here too, before cleanup deletes the target
    val manifestPublish = cfg.load.exists(_.manifestPublish)
    val hconf = spark.sparkContext.hadoopConfiguration
    if (cfg.cleanupBeforeRun) cfg.load.foreach { l =>
      val p = new Path(l.target)
      val fs = p.getFileSystem(hconf)
      if (fs.exists(p)) fs.delete(p, true): Unit
    }
    // run-time source subset (run.py --authority/--type): filtered-out
    // ENABLED sources surface as `skipped` summary rows — an operator who
    // ran one authority can see exactly what the run did NOT touch.
    // Disabled sources stay invisible, as before (they are off in the
    // document itself, not excluded by this run).
    val rf = cfg.runFilter.getOrElse(RunFilterCfg())
    val (active, skipped) = cfg.sources.filter(_.enabled).partition(rf.passes)
    val results = active.flatMap { src =>
      // per-source override merged over the global policy (source wins)
      val gp = src.geoprocess.map(_.mergedOver(cfg.geoprocess)).getOrElse(cfg.geoprocess)
      val staged =
        if (cfg.steps.process) geoprocess(stage(spark, src), gp)
        else stage(spark, src)
      val finalDf = if (cfg.sanitizeNames) sanitize(staged) else staged
      val layered = isLayered(src)
      // per-layer reconciliation helper for container sources: one metrics
      // row per DISCOVERED layer (stage_files.py stages each layer as its
      // own feature class; monitoring counts each separately). The collect
      // is ≤ |layers| rows — the same size as the reference's per-fc log.
      def perLayer(df: DataFrame): Seq[(String, Long)] =
        df.groupBy(col("layer_name")).count().collect()
          .map(r => (s"${src.name}/${r.getString(0)}", r.getLong(1))).toSeq
      cfg.load match {
        case Some(LoadCfg(target, mode, resolveDatasets, _)) if cfg.steps.load =>
          val fs = new Path(target).getFileSystem(hconf)
          val dst = resolveDestination(fs, new Path(target), src.name, resolveDatasets)
          val appendMode = mode == "append"
          def writeTo(p: Path): Unit =
            if (layered)
              finalDf.write.mode("overwrite").partitionBy("layer_name").parquet(p.toString)
            else
              finalDf.write.mode("overwrite").parquet(p.toString)
          // a zero-row PARTITIONED write leaves no part files at all (and
          // an unreadable schema-less dir) — probe the file listing first,
          // then let parquet row-group metadata answer the count
          def partFiles(root: Path): Seq[Path] = {
            val buf = scala.collection.mutable.ArrayBuffer.empty[Path]
            val it = fs.listFiles(root, true)
            while (it.hasNext) {
              val f = it.next()
              if (f.getPath.getName.startsWith("part-")) buf += f.getPath
            }
            buf.toSeq
          }
          if (manifestPublish) {
            // Manifest-commit publish (the S3-safe mode): the load writes
            // ONCE into a fresh immutable version directory under the
            // target — data never renames (on S3 a rename is an O(data)
            // copy) — and the commit is rewriting the tiny manifest LAST
            // to name the live versions. Truncate lists exactly the new
            // version; append extends the prior list. Superseded truncate
            // versions are GC'd with a one-generation grace (the IVF
            // layout's rule: a reader that resolved the old manifest may
            // still be mid-scan). Readers resolve via [[resolvePublished]].
            // pid disambiguates concurrent JVMs; the per-JVM sequence
            // disambiguates two loads of one source inside one millisecond
            val verName = s"v_${System.currentTimeMillis()}_" +
              s"${ProcessHandle.current().pid()}_${verSeq.incrementAndGet()}"
            val verDir = new Path(dst, verName)
            writeTo(verDir)
            val staged = partFiles(verDir)
            val writtenRows =
              if (staged.isEmpty) 0L else spark.read.parquet(verDir.toString).count()
            if (writtenRows == 0L) {
              // zero-feature loads are skipped (process.py): drop the
              // version dir, leave the manifest — and any prior data —
              // exactly as it was
              fs.delete(verDir, true); Seq((src.name, 0L))
            } else {
              val prior = readManifest(fs, dst)
              val live = if (appendMode) prior :+ verName else Seq(verName)
              writeManifest(fs, dst, live)
              if (!appendMode) {
                // GC with a FULL-generation reader grace: the entire prior
                // manifest generation survives this publish (a reader that
                // resolved it may be mid-scan of ANY of its versions), and
                // only versions recorded in the generation-before-last
                // ledger (`_GRAFT_PREV`) are deleted — never an arbitrary
                // v_* directory, so a concurrent writer's in-flight
                // version can't be swept (the IVF _tmp_ rule, manifest
                // form). Crashed writers' orphan dirs are left alone.
                val keep = (live ++ prior).toSet
                val prev2 = readLines(fs, prevFile(dst))
                prev2.filterNot(keep).foreach { v =>
                  val p = new Path(dst, v)
                  if (fs.exists(p)) fs.delete(p, true): Unit
                }
                writeLines(fs, prevFile(dst), prior)
              }
              if (appendMode) {
                // append reconcile counts ALL live versions (prior
                // appends included), through the manifest like a reader
                val paths = live.map(v => new Path(dst, v).toString)
                if (layered) perLayer(spark.read.parquet(paths: _*))
                else Seq((src.name, spark.read.parquet(paths: _*).count()))
              } else if (layered) perLayer(spark.read.parquet(verDir.toString))
              else Seq((src.name, writtenRows))
            }
          } else {
            // Write-once-then-reconcile: the staged subtree is computed
            // EXACTLY once, by the write itself, into a staging dir next to
            // the target (`.staging` SUFFIX — a dot/underscore PREFIX would
            // be invisible to Spark's path filter even as a read root, and
            // sanitized source names cannot contain a dot, so the name can
            // never collide with a real target). The empty probe
            // (process.py: zero-feature outputs are not written) and the
            // per-layer reconcile both read the WRITTEN files — no persist,
            // no second pass over the source. Publish is one directory
            // rename (overwrite) or a part-file move (append); an empty
            // result removes the staging dir and leaves NO target behind.
            // staged NEXT TO the resolved destination (dataset dir or
            // root), so the publish rename never crosses directories
            val tmp = fs.makeQualified(dst.suffix(".staging"))
            if (fs.exists(tmp)) fs.delete(tmp, true)
            writeTo(tmp)
            val staged = partFiles(tmp)
            val writtenRows =
              if (staged.isEmpty) 0L else spark.read.parquet(tmp.toString).count()
            if (writtenRows == 0L) { fs.delete(tmp, true); Seq((src.name, 0L)) }
            else if (!appendMode) {
              // reconcile from the WRITTEN staging files BEFORE the rename —
              // identical content, and the scalar row reuses `writtenRows`
              // instead of re-counting the published copy (one fewer
              // footer-read job per source)
              val summary =
                if (layered) perLayer(spark.read.parquet(tmp.toString))
                else Seq((src.name, writtenRows))
              if (fs.exists(dst)) fs.delete(dst, true)
              require(fs.rename(tmp, dst), s"publish failed: $tmp -> $dst")
              summary
            } else {
              // merge written part files (and layer_name=* dirs) into the
              // existing target; Spark part names carry a per-job UUID, so
              // names cannot collide with prior appends. The append
              // reconcile MUST re-read the published target (prior appends
              // count too), unlike the overwrite path above.
              staged.foreach { f =>
                val rel = f.toString.stripPrefix(tmp.toString).stripPrefix("/")
                val d = new Path(dst, rel)
                fs.mkdirs(d.getParent)
                require(fs.rename(f, d), s"publish failed: $f -> $d")
              }
              fs.delete(tmp, true)
              if (layered) perLayer(spark.read.parquet(dst.toString))
              else Seq((src.name, spark.read.parquet(dst.toString).count()))
            }
          }
        case _ =>
          if (layered) {
            // an all-empty container must still be visible to monitoring
            val layers = perLayer(finalDf)
            if (layers.isEmpty) Seq((src.name, 0L)) else layers
          } else Seq((src.name, finalDf.count()))
      }
    }
    (results.map { case (n, c) => (n, c, "ok") } ++
        skipped.map(s => (s.name, 0L, "skipped")))
      .toDF("source", "rows_loaded", "status").orderBy(col("source"))
  }
}
