package graft.sources

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingestion surface (SURVEY §2 A). Re-expresses op-etl's downloaders
  * (/root/reference/etl/download_rest.py, download_ogc.py, download_http.py)
  * as distributed Spark reads.
  *
  * The reference pulls remote layers through a single Python process with
  * thread-pooled paging; here every "page" is a partition of a declarative
  * scan, so a 1000-executor cluster ingests all ranges concurrently and
  * Catalyst pushes the range predicates into the source.
  */
object Ingest {

  /** Key-space discovery for ranged batching (the reference queries
    * returnIdsOnly/maxOID first): (minKey, maxKey, pageSize) splitting
    * [min, max] into `nBatches`. One tiny driver job — shared by every
    * sweep/page/resume/prune operator so the batch-id contract can never
    * diverge between them. */
  def keySpace(df: DataFrame, key: String, nBatches: Int): (Long, Long, Long) = {
    val Array(minK, maxK) = df.agg(min(key), max(key)).head().toSeq
      .map(_.asInstanceOf[Number].longValue()).toArray
    (minK, maxK, math.max(1L, math.ceil((maxK - minK + 1).toDouble / nBatches).toLong))
  }

  /** A1: pruned columnar scan — projection + filter reach the parquet
    * reader (verify `PushedFilters`/`ReadSchema` in the plan). */
  def parquetPruned(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).lineitem
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .filter(col("l_quantity") >= 45)
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** A2: delimited-file ingest with explicit schema (the reference's HTTP
    * file sources land as delimited/archive files; download_http.py:73).
    * Round-trips the region dim through CSV to prove schema-on-read. */
  def csvRead(spark: SparkSession, dir: String): DataFrame = {
    val out = Tables.scratch(spark, "graft_csv_stage/region")
    Tables(spark, dir).region
      .select(col("r_regionkey").cast("int"), col("r_name"))
      .write.mode("overwrite").option("header", "true").csv(out)
    val schema = StructType(Seq(
      StructField("r_regionkey", IntegerType), StructField("r_name", StringType)))
    spark.read.schema(schema).option("header", "true").csv(out)
      .orderBy(col("r_regionkey"))
  }

  /** A3: GeoJSON-style FeatureCollection parsing (download_ogc.py:216
    * fetch_collection_items): features arrive as JSON documents; parse with
    * schema-on-read `from_json`, explode properties to columns. */
  def jsonFeatures(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    // build the wire format the OGC downloader would receive…
    val wire = t.nation.select(
      to_json(struct(
        lit("Feature").as("type"),
        struct(col("n_nationkey").as("key"), col("n_name").as("name"),
          col("n_regionkey").as("region")).as("properties"))).as("feature_json"))
    // …then parse it back with an explicit schema (the operator under test)
    val featSchema = StructType(Seq(
      StructField("type", StringType),
      StructField("properties", StructType(Seq(
        StructField("key", IntegerType), StructField("name", StringType),
        StructField("region", IntegerType))))))
    wire.select(from_json(col("feature_json"), featSchema).as("f"))
      .select(col("f.properties.key").as("n_nationkey"),
        col("f.properties.name").as("n_name"),
        col("f.properties.region").as("n_regionkey"))
      .orderBy(col("n_nationkey"))
  }

  /** The Esri JSON response schema (the ArcGIS REST `f=json` layer-query
    * shape stage_files.py:602 `import_esri_json` hands to ArcPy:
    * top-level `geometryType`/`spatialReference.wkid`, features as
    * `features[].attributes` + `features[].geometry.{x,y}` — unlike
    * GeoJSON's `properties` + coordinate arrays). */
  private val esriSchema = StructType(Seq(
    StructField("geometryType", StringType),
    StructField("spatialReference", StructType(Seq(StructField("wkid", IntegerType)))),
    StructField("features", ArrayType(StructType(Seq(
      StructField("attributes", StructType(Seq(
        StructField("key", LongType), StructField("name", StringType)))),
      StructField("geometry", StructType(Seq(
        StructField("x", DoubleType), StructField("y", DoubleType))))))))))

  /** Parse Esri JSON response docs (`doc` column) → one row per feature
    * with the response-level geometry type and wkid carried onto every
    * row — the typed parse the REST path needs when a service answers in
    * Esri JSON rather than GeoJSON (A3 covers that). */
  def parseEsriFeatures(docs: DataFrame): DataFrame =
    docs.select(from_json(col("doc"), esriSchema).as("r"))
      .select(col("r.geometryType").as("geometry_type"),
        col("r.spatialReference.wkid").as("wkid"),
        explode(col("r.features")).as("f"))
      .select(col("f.attributes.key").as("suppkey"),
        col("f.attributes.name").as("name"),
        col("geometry_type"), col("wkid"),
        col("f.geometry.x").as("x"), col("f.geometry.y").as("y"))

  /** A14: Esri JSON feature parsing (stage_files.py:602
    * `import_esri_json`): one layer-query response per nation, each
    * holding its suppliers as `features[].attributes` with
    * `esriGeometryPoint` geometries; the parse lands every feature with
    * its attributes, point coordinates, and the response's spatial
    * reference — losslessly (full oracle on the same synthetic x/y
    * arithmetic). */
  def esriJsonFeatures(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    // the wire format the REST downloader would receive…
    val wire = t.supplier
      .withColumn("x", col("s_suppkey") * 7919 % 36000 / 100.0 - 180)
      .withColumn("y", col("s_suppkey") * 104729 % 18000 / 100.0 - 90)
      .groupBy(col("s_nationkey"))
      .agg(to_json(struct(
        lit("esriGeometryPoint").as("geometryType"),
        struct(lit(3006).as("wkid")).as("spatialReference"),
        collect_list(struct(
          struct(col("s_suppkey").cast("long").as("key"),
            col("s_name").as("name")).as("attributes"),
          struct(col("x"), col("y")).as("geometry"))).as("features"))).as("doc"))
      .select(col("doc"))
    // …parsed back by the operator under test
    parseEsriFeatures(wire).orderBy(col("suppkey"))
  }

  /** A7: GML/XML feature parsing (download_wfs.py, download_atom.py move
    * WFS/Atom payloads as XML): elements extracted with native regexps —
    * schema-on-read without a parser dependency, per-row and codegen'd. */
  def xmlFeatures(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    // the wire format a WFS download would deliver…
    val wire = t.nation.select(concat(
      lit("<feature><key>"), col("n_nationkey").cast("string"),
      lit("</key><name>"), col("n_name"),
      lit("</name><region>"), col("n_regionkey").cast("string"),
      lit("</region></feature>")).as("xml"))
    // …parsed back by the operator under test
    wire.select(
        regexp_extract(col("xml"), "<key>([0-9]+)</key>", 1).cast("int").as("n_nationkey"),
        regexp_extract(col("xml"), "<name>(.*?)</name>", 1).as("n_name"),
        regexp_extract(col("xml"), "<region>([0-9]+)</region>", 1).cast("int").as("n_regionkey"))
      .orderBy(col("n_nationkey"))
  }

  /** A4: OID-sweep ingest (download_rest.py `use_oid_sweep`): the table is
    * fetched as parallel key-ranged batches. On a partitioned layout the
    * batches ARE the input splits, so the registered form is ONE scan with
    * the batch id derived from the key — no re-read per range (the r1
    * ranged-union form re-scanned the single test file 16×; it survives as
    * [[rangedOidSweep]], spec-proven equal to this). Output proves
    * complete, non-overlapping coverage per batch. */
  def restOidSweep(spark: SparkSession, dir: String, nBatches: Int = 16): DataFrame = {
    val t = Tables(spark, dir)
    val (_, _, pageSize) = keySpace(t.lineitem, "l_orderkey", nBatches)
    t.lineitem
      .groupBy(floor(col("l_orderkey") / pageSize).cast("long").as("oid_batch"))
      .agg(count(lit(1)).as("n"), sum(col("l_orderkey")).cast("long").as("key_checksum"))
      .orderBy(col("oid_batch"))
  }

  /** The r1 ranged-union formulation of A4: one filtered scan per key
    * range, unioned. Kept for the range-coverage-equivalence spec (each
    * range maps to a split of a partitioned layout; on the single-file
    * testdata it re-reads the input per range, which is why the registered
    * query is the single-scan form above). */
  def rangedOidSweep(spark: SparkSession, dir: String, nBatches: Int = 16): DataFrame = {
    val t = Tables(spark, dir)
    val (minK, maxK, pageSize) = keySpace(t.lineitem, "l_orderkey", nBatches)
    val ranges = (minK to maxK by pageSize).map(lo => (lo, lo + pageSize))
    val batches = ranges.map { case (lo, hi) =>
      t.lineitem.filter(col("l_orderkey") >= lo && col("l_orderkey") < hi)
        .select(col("l_orderkey"))
    }
    batches.reduce(_ union _)
      .groupBy(floor(col("l_orderkey") / pageSize).cast("long").as("oid_batch"))
      .agg(count(lit(1)).as("n"), sum(col("l_orderkey")).cast("long").as("key_checksum"))
      .orderBy(col("oid_batch"))
  }

  /** A5: offset/limit paging with transfer-limit resume
    * (download_rest.py `resultOffset` + `exceededTransferLimit`): pages are
    * consecutive row-offset windows. The PROTOCOL is sequential, but the
    * offset computation need not be: rows are chunked by deterministic key
    * ranges, the per-chunk counts are prefix-summed on the driver (≤
    * `nChunks` rows — the zipWithIndex scheme), and the global offset is
    * chunk_offset + the row's rank within its chunk. The only window is
    * PARTITIONED by chunk, so no single-task funnel (the r1 form used a
    * global `Window.orderBy` — the whole table through one task). */
  def restOffsetPaging(spark: SparkSession, dir: String, pageSize: Long = 1000L,
      nChunks: Int = 32): DataFrame = {
    val t = Tables(spark, dir)
    val base = t.lineitem.select(col("l_orderkey"), col("l_linenumber"))
    val (minK, _, span) = keySpace(base, "l_orderkey", nChunks)
    // chunk boundaries are l_orderkey ranges, and the global sort key leads
    // with l_orderkey, so chunk order == global row order
    val chunked = base.withColumn("chunk",
      floor((col("l_orderkey") - minK) / span).cast("long"))
    // per-chunk counts → driver-side prefix sum (≤ nChunks rows)
    val counts = chunked.groupBy(col("chunk")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("chunk")).collect()
    var acc = 0L
    val offsets = counts.map { r =>
      val o = (r.getLong(0), acc); acc += r.getLong(1); o
    }.toSeq
    import spark.implicits._
    val offDf = offsets.toDF("chunk", "chunk_off")
    val wLocal = Window.partitionBy(col("chunk"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
    chunked.join(broadcast(offDf), Seq("chunk"))
      .withColumn("off", col("chunk_off") + row_number().over(wLocal).cast("long") - 1)
      .groupBy(floor(col("off") / pageSize).cast("long").as("page"))
      .agg(count(lit(1)).as("n"), min(col("off")).as("first_off"),
        max(col("off")).as("last_off"))
      .orderBy(col("page"))
  }

  /** A8: container→rows staging (stage_files.py:645 `import_zip`, :434
    * `import_shapefile`, :403 `discover_gpkg_layers`, :602 Esri JSON):
    * the reference downloads one archive holding many layers and stages
    * each layer's records. Modeled end-to-end: build a deterministic
    * multi-layer archive per region (magic bytes + `LAYER:` sections —
    * the container format), then the operator under test sniffs the
    * magic, DISCOVERS the layers, and unpacks layer records back to rows.
    * Unpack = explode per layer then per record: distributed at record
    * granularity, no driver involvement; the oracle proves the round
    * trip is lossless against the ground-truth tables. */
  def archiveUnpack(spark: SparkSession, dir: String): DataFrame =
    unpackRecords(buildArchiveWire(spark, dir))
      .groupBy(col("r_regionkey"), col("layer_name"))
      .agg(count(lit(1)).as("n_records"),
        sum(regexp_extract(col("rec"), "^([0-9]+):", 1).cast("long"))
          .cast("long").as("key_checksum"))
      .orderBy(col("r_regionkey"), col("layer_name"))

  /** The wire format a container download would deliver: one archive per
    * region (magic bytes + `LAYER:` sections), each holding one layer per
    * nation whose records are that nation's suppliers. Deterministic, built
    * from the ground-truth tables so the unpack oracle is exact. */
  def buildArchiveWire(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val recs = t.supplier.groupBy(col("s_nationkey")).agg(
      array_join(transform(
        array_sort(collect_list(struct(col("s_suppkey"), col("s_name")))),
        s => concat(s.getField("s_suppkey").cast("string"), lit(":"),
          s.getField("s_name"))), ",").as("recs"))
    val layers = recs.join(t.nation, col("s_nationkey") === col("n_nationkey"))
      .select(col("n_regionkey"),
        concat(lit("LAYER:"), col("n_name"), lit(";"), col("recs")).as("layer"))
    layers.groupBy(col("n_regionkey")).agg(
        concat(lit("GARC"), array_join(array_sort(collect_list(col("layer"))), "|"))
          .as("payload_str"))
      .select(col("n_regionkey").as("r_regionkey"),
        col("payload_str").cast("binary").as("payload"))
  }

  /** The A8 operator core, reusable from the declarative config path
    * ([[graft.config.Pipeline.stage]] `format: "archive"`): sniff the
    * magic bytes, DISCOVER the layers, and unpack layer records back to
    * rows — explode per layer then per record, distributed at record
    * granularity with no driver involvement. Output one row per record:
    * (r_regionkey, layer_name, rec). */
  def unpackRecords(archives: DataFrame): DataFrame = {
    val text = col("payload").cast("string")
    archives
      .filter(substring(text, 1, 4) === "GARC") // magic-byte sniff
      .select(col("r_regionkey"),
        explode(split(substring(text, 5, 1 << 30), "\\|")).as("layer_text"))
      .select(col("r_regionkey"),
        regexp_extract(col("layer_text"), "^LAYER:([^;]+);", 1).as("layer_name"),
        explode(split(regexp_extract(col("layer_text"), ";(.*)$", 1), ",")).as("rec"))
  }

  /** A9: retry/resume ingest with a persisted range ledger
    * (http_utils.py:509 RecursionSafeSession retry/backoff, :532
    * download_with_retries; download_rest.py per-page retry): run 1
    * ingests every key range except the deterministically "failing" ones
    * (the flaky-page model), persists a per-range success LEDGER, then
    * the resume pass re-ingests ONLY ranges the ledger marks failed — a
    * left-semi join against the ledger, no driver loop. Output reconciles
    * per-range counts and attributes each range to the run that landed
    * it; the oracle proves complete-after-resume coverage with no
    * double-ingested range. */
  def resumeIngest(spark: SparkSession, dir: String, nRanges: Int = 16): DataFrame = {
    val store = Tables.scratch(spark, "graft_resume/lineitem")
    val ledgerPath = Tables.scratch(spark, "graft_resume/ledger")
    val t = Tables(spark, dir)
    val (_, _, pageSize) = keySpace(t.lineitem, "l_orderkey", nRanges)
    val tagged = t.lineitem.select(col("l_orderkey"))
      .withColumn("range_id", floor(col("l_orderkey") / pageSize).cast("long"))
    // run 1: ranges 2 mod 5 hit the modeled transient failure
    tagged.filter(col("range_id") % 5 =!= 2)
      .withColumn("ingest_run", lit(1))
      .write.mode("overwrite").parquet(store)
    // ledger: what actually landed, per range (persisted state)
    val expected = tagged.groupBy(col("range_id"))
      .agg(count(lit(1)).as("n_expected"))
    val landed = spark.read.parquet(store).groupBy(col("range_id"))
      .agg(count(lit(1)).as("n_landed"))
    expected.join(landed, Seq("range_id"), "left")
      .select(col("range_id"), col("n_expected"),
        coalesce(col("n_landed"), lit(0L)).as("n_landed"),
        (coalesce(col("n_landed"), lit(0L)) === col("n_expected")).as("ok"))
      .write.mode("overwrite").parquet(ledgerPath)
    // resume: ledger-driven — re-ingest ONLY failed ranges
    val failed = spark.read.parquet(ledgerPath).filter(!col("ok")).select("range_id")
    tagged.join(failed, Seq("range_id"), "left_semi")
      .withColumn("ingest_run", lit(2))
      .write.mode("append").parquet(store)
    // reconcile: per range, which run landed it and is coverage complete
    spark.read.parquet(store)
      .groupBy(col("range_id"))
      .agg(max(col("ingest_run")).as("ingest_run"), count(lit(1)).as("n_rows"),
        sum(col("l_orderkey")).cast("long").as("key_checksum"))
      .orderBy(col("range_id"))
  }

  /** A18: TTL-gated fetch cache — the reference's download-cache reuse
    * policy (config/config.yaml processing.enable_caching: true /
    * cache_ttl_hours: 24; http_utils.py's download cache) as a replayable
    * decision operator: a source whose last SUCCESSFUL fetch is within
    * the TTL of the corpus watermark is served from cache (`cache_hit`,
    * re-ingest skipped), one whose history is older re-fetches
    * (`refetch`), and a source with no ledger at all is a `first_fetch`.
    * With caching disabled every source re-fetches regardless of age.
    *
    * Model: the nation table is the source catalog (the config's source
    * list), the events table is the fetch history (`user_id % 25` →
    * source, non-error = success). Two planted classes make all three
    * decisions fire at every SF: sources ≡3 (mod 7) have their history
    * purged (newly configured → first_fetch), sources ≡1 (mod 5) pause
    * three days before the watermark (stale → refetch).
    *
    * Scale shape: ONE hash agg over the fetch history (map-side
    * partials, |sources| rows out), a 1-row watermark agg broadcast
    * back (the D17 convention), and a broadcast join against the
    * catalog — no window, no data-sized join. */
  def srcCacheTtl(spark: SparkSession, dir: String, ttlHours: Long = 24L,
      enabled: Boolean = true): DataFrame = {
    val t = Tables(spark, dir)
    val ev = t.eventsSec.select(
      (col("user_id") % 25).as("source_key"), col("sec"),
      (col("event_type") =!= "error").as("ok"))
    val now = ev.agg(max(col("sec"))).head().getLong(0)
    val ledger = ev.filter(col("ok"))
      .filter(col("source_key") % 7 =!= 3)
      .filter(col("source_key") % 5 =!= 1 || col("sec") <= now - 3L * 86400L)
      .groupBy(col("source_key"))
      .agg(max(col("sec")).as("last_success_sec"), count(lit(1)).as("n_success"))
    val catalog = t.nation.select(
      col("n_nationkey").cast("long").as("source_key"), col("n_name"))
    catalog.join(broadcast(ledger), Seq("source_key"), "left")
      .withColumn("age_sec",
        when(col("last_success_sec").isNotNull, lit(now) - col("last_success_sec")))
      .withColumn("decision",
        when(lit(!enabled), lit("refetch"))
          .when(col("last_success_sec").isNull, lit("first_fetch"))
          .when(col("age_sec") <= ttlHours * 3600L, lit("cache_hit"))
          .otherwise(lit("refetch")))
      .select(col("source_key"), col("n_name"),
        coalesce(col("n_success"), lit(0L)).as("n_success"),
        col("last_success_sec"), col("age_sec"), col("decision"))
      .orderBy(col("source_key"))
  }

  /** A11: single-page OID fetch (download_rest.py's per-page request —
    * the unit of work behind A4's sweep and A9's resume). The natural
    * predicate `floor(key / pageSize) = page` is opaque to parquet; the
    * injected [[graft.plans.FloorRangePushdown]] optimizer rule conjoins
    * the equivalent key range, so the page lookup reaches the scan as
    * `PushedFilters` range predicates and prunes row groups/partitions
    * instead of reading the table (spec asserts the pushed range and
    * result equivalence with the rule disabled). */
  def oidPageFetch(spark: SparkSession, dir: String, page: Long = 7L,
      nBatches: Int = 16): DataFrame = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!cs.experimental.extraOptimizations.contains(graft.plans.FloorRangePushdown))
      cs.experimental.extraOptimizations =
        cs.experimental.extraOptimizations :+ graft.plans.FloorRangePushdown
    val t = Tables(spark, dir)
    val (_, _, pageSize) = keySpace(t.lineitem, "l_orderkey", nBatches)
    t.lineitem
      .filter(floor(col("l_orderkey") / pageSize) === page)
      .agg(count(lit(1)).as("n"), min(col("l_orderkey")).as("min_key"),
        max(col("l_orderkey")).as("max_key"),
        sum(col("l_orderkey")).cast("long").as("key_checksum"))
  }

  /** A10: filterable-service bypass (download_atom.py:164/:176 — when the
    * service behind an Atom feed accepts bbox filters, the reference
    * skips the full-archive download and queries the service with the
    * filter). Spark analogue: the AOI range predicates reach the SCAN
    * (`PushedFilters`) instead of running above a full read. With
    * `serviceFilterable = false` the full archive is DOWNLOADED first
    * (written to the staging store, every row) and the filter runs over
    * the staged copy — same rows, full-table I/O (the spec asserts the
    * equality and that only the archive path materializes the full
    * table; at 100 TB the bypass saves the entire archive transfer). */
  def atomFilterable(spark: SparkSession, dir: String,
      serviceFilterable: Boolean = true): DataFrame = {
    val t = Tables(spark, dir)
    // the "bbox": a 2-D range over pushable columns (date × quantity)
    val pred = col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
      col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
      col("l_quantity") >= 10 && col("l_quantity") <= 40
    val source =
      if (serviceFilterable) t.lineitem.filter(pred) // pushed to the scan
      else {
        // archive path: transfer everything, stage, then filter
        val archive = Tables.scratch(spark, "graft_atom_archive/lineitem")
        t.lineitem.write.mode("overwrite").parquet(archive)
        spark.read.parquet(archive).filter(pred)
      }
    source.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy(col("l_returnflag"))
  }

  /** The one page-address format, shared by the wire builder AND the
    * chain verifier so the two can never drift apart. */
  private def pageHref(cid: Column, page: Column): Column =
    concat(lit("/collections/"), cid, lit("/items?page="), page)

  /** The OGC wire a service would deliver: ONE /collections document
    * listing the collections, plus one JSON FeatureCollection page per
    * (collection, page) with `numberReturned` and OGC-style `links`
    * (`rel=next` on every page but the last). Deterministic, built from
    * the ground-truth tables. Returns (serviceDoc, pageWire). */
  def buildOgcWire(spark: SparkSession, dir: String,
      pageSize: Int = 7): (DataFrame, DataFrame) = {
    val t = Tables(spark, dir)
    val serviceDoc = t.nation
      .agg(to_json(struct(lit("graft-ogc").as("service"),
        array_sort(collect_list(struct(col("n_name").as("id")))).as("collections")))
        .as("doc"))
    val paged = t.customer.join(t.nation, col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("cid"), col("c_custkey").cast("long").as("custkey"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cid")).orderBy(col("custkey"))))
      .withColumn("page_no", floor((col("rn") - 1) / pageSize).cast("long"))
    val pageRows = paged.groupBy(col("cid"), col("page_no"))
      .agg(count(lit(1)).as("nret"),
        array_sort(collect_list(col("custkey"))).as("keys"))
    val lastPage = pageRows.groupBy(col("cid")).agg(max(col("page_no")).as("last_page"))
    val selfLink = struct(lit("self").as("rel"), pageHref(col("cid"), col("page_no")).as("href"))
    val pageWire = pageRows.join(broadcast(lastPage), Seq("cid"))
      .select(to_json(struct(
        col("cid").as("collection"), col("page_no").as("page"),
        col("nret").as("numberReturned"),
        transform(col("keys"), k => struct(k.as("custkey"))).as("features"),
        when(col("page_no") < col("last_page"),
          array(selfLink,
            struct(lit("next").as("rel"), pageHref(col("cid"), col("page_no") + 1).as("href"))))
          .otherwise(array(selfLink)).as("links"))).as("page_json"))
    (serviceDoc, pageWire)
  }

  /** Parse the service /collections document → one row per DISCOVERED
    * collection id (download_ogc.py:171 `discover_collections`). */
  def parseService(serviceDoc: DataFrame): DataFrame = {
    val svcSchema = StructType(Seq(
      StructField("service", StringType),
      StructField("collections", ArrayType(StructType(Seq(
        StructField("id", StringType)))))))
    serviceDoc
      .select(from_json(col("doc"), svcSchema).as("svc"))
      .select(explode(col("svc.collections.id")).as("cid"))
  }

  /** Parse the page wire with schema-on-read → (cid, page_no, nret,
    * features, next_href) — the `rel=next` link extracted per page
    * (download_ogc.py:346 `_find_next_link`). */
  def parsePages(pageWire: DataFrame): DataFrame = {
    val pageSchema = StructType(Seq(
      StructField("collection", StringType), StructField("page", LongType),
      StructField("numberReturned", LongType),
      StructField("features", ArrayType(StructType(Seq(
        StructField("custkey", LongType))))),
      StructField("links", ArrayType(StructType(Seq(
        StructField("rel", StringType), StructField("href", StringType)))))))
    pageWire.select(from_json(col("page_json"), pageSchema).as("p"))
      .select(col("p.collection").as("cid"), col("p.page").as("page_no"),
        col("p.numberReturned").as("nret"), col("p.features").as("features"),
        try_element_at(filter(col("p.links"), l => l.getField("rel") === lit("next")), lit(1))
          .getField("href").as("next_href"))
  }

  /** A12: OGC collection discovery + next-link paging sweep
    * (download_ogc.py:171 `discover_collections` enumerates a service's
    * collections; :346 `_find_next_link` follows each page's `rel=next`
    * link until exhausted; the reference ingests N discovered collections
    * per source). The operator (a) parses the service doc and DISCOVERS
    * the collections, (b) parses every page, (c) verifies the next-link
    * chain declaratively — each page's `rel=next` href must equal the
    * following page's address (a lag window per collection; a missing or
    * duplicated page breaks the chain), (d) explodes features to land
    * items, and (e) reconciles per discovered collection: page count,
    * landed items vs the pages' own `numberReturned` total, key checksum.
    * `complete` proves every discovered collection landed exactly once —
    * the sequential link-following protocol becomes one distributed
    * parse + two partitioned windows, no driver loop. */
  def ogcCollections(spark: SparkSession, dir: String, pageSize: Int = 7): DataFrame = {
    val (serviceDoc, pageWire) = buildOgcWire(spark, dir, pageSize)
    sweepPages(parseService(serviceDoc), parsePages(pageWire))
  }

  /** Record-level staging of an OGC sweep — the config-path entry
    * ([[graft.config.Pipeline.stage]] `format: "ogc"`): discover, verify
    * every collection's chain, then land records ONLY from collections
    * whose sweep reconciled (`complete`) — a collection whose paging
    * broke stages nothing and is re-fetched next run (the declarative
    * analogue of the reference's per-collection retry), instead of
    * loading a silently-truncated layer. Output one row per record:
    * (layer_name, rec). */
  def stageOgcRecords(serviceDoc: DataFrame, pageWire: DataFrame): DataFrame = {
    val discovered = parseService(serviceDoc)
    val parsed = parsePages(pageWire)
    // `complete` alone gates staging: a zero-page (never-fetched)
    // collection reconciles complete=false since r4, so the former
    // separate n_pages > 0 guard is subsumed
    val complete = sweepPages(discovered, parsed)
      .filter(col("complete"))
      .select(col("collection_id").as("cid"))
    parsed.join(complete, Seq("cid"), "left_semi")
      .select(col("cid").as("layer_name"), explode(col("features")).as("f"))
      .select(col("layer_name"), col("f.custkey").as("rec"))
  }

  /** The sweep/reconcile core of A12, factored so specs can feed it a
    * BROKEN chain (missing / duplicated page, undercounting
    * `numberReturned`): verifies every page's `rel=next` link points at
    * the following landed page (lag window per collection), lands the
    * features, and reconciles per discovered collection. `parsed` columns:
    * (cid, page_no, nret, features: array<struct<custkey>>, next_href). */
  def sweepPages(discovered: DataFrame, parsed: DataFrame): DataFrame = {
    val wCid = Window.partitionBy(col("cid")).orderBy(col("page_no"))
    // coalesce(false): NULL must FAIL the chain, not slip past bool_and —
    // a dangling rel=next on the last landed page (lost tail page) makes
    // the href comparison NULL, and a mid-chain page with no next link
    // compares NULL against the real next page; both are broken chains
    val chained = parsed.withColumn("next_page", lead(col("page_no"), 1).over(wCid))
      .withColumn("page_chain_ok", coalesce(
        (col("next_page").isNull && col("next_href").isNull) ||
          (col("next_href") === pageHref(col("cid"), col("next_page"))), lit(false)))
    val landed = parsed
      .select(col("cid"), explode(col("features")).as("f"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("f.custkey")).cast("long").as("key_checksum"))
    val pagesPerCid = chained.groupBy(col("cid"))
      .agg(count(lit(1)).as("n_pages"), bool_and(col("page_chain_ok")).as("chain_ok"),
        sum(col("nret")).as("nret_total"),
        // the chain must START at page 0: the lag check only validates
        // consecutive PRESENT pages, so a lost first page would otherwise
        // reconcile (the symmetric case to a lost tail page)
        min(col("page_no")).as("first_page"))
    discovered.join(pagesPerCid, Seq("cid"), "left")
      .join(landed, Seq("cid"), "left")
      .select(col("cid").as("collection_id"),
        coalesce(col("n_pages"), lit(0L)).as("n_pages"),
        coalesce(col("n_items"), lit(0L)).as("n_items"),
        coalesce(col("key_checksum"), lit(0L)).as("key_checksum"),
        // default FALSE: a discovered collection with no landed pages is
        // indistinguishable from one whose every page was lost in flight
        // (the symmetric case to a lost first page), so it must NOT
        // reconcile. A genuinely-empty collection still returns one page
        // with numberReturned=0 and reconciles through the normal path.
        coalesce(col("chain_ok") && (col("first_page") === 0L) &&
          (col("nret_total") === coalesce(col("n_items"), lit(0L))), lit(false))
          .as("complete"))
      .orderBy(col("collection_id"))
  }

  /** The one REST layer-address format (service url + "/" + layer id),
    * shared by the wire builder and the discovery join — mirrors
    * download_rest.py:204 `layer_url = f"{base_url}/{layer_id}"`. */
  private def layerUrl(serviceUrl: Column, layerId: Column): Column =
    concat(serviceUrl, lit("/"), layerId)

  /** The REST service wire an ArcGIS-style server would deliver: one
    * MapServer doc per region listing its nations as layers
    * (`{"url", "layers": [{"id", "name"}]}`), plus ONE single-layer
    * FeatureServer doc with NO `layers` array (`"type": "Feature Layer"` —
    * the shape download_rest.py:253 falls back on). The feature wire is
    * addressed by layer url. Deterministic, built from the ground-truth
    * tables. Returns (serviceDocs, featureWire). */
  def buildRestServiceWire(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val t = Tables(spark, dir)
    val svcUrl = concat(lit("/rest/"),
      lower(regexp_replace(col("r_name"), "[^A-Za-z0-9]+", "_")), lit("/MapServer"))
    val mapDocs = t.nation
      .join(t.region, col("n_regionkey") === col("r_regionkey"))
      .withColumn("url", svcUrl)
      .groupBy(col("url"))
      .agg(to_json(struct(col("url"),
        array_sort(collect_list(struct(col("n_nationkey").cast("long").as("id"),
          col("n_name").as("name")))).as("layers"))).as("doc"))
      .select(col("doc"))
    val fsDoc = t.region.limit(1).select(to_json(struct(
      lit("/rest/municipal/FeatureServer").as("url"),
      lit("Feature Layer").as("type"), lit(0L).as("id"),
      lit("Municipal Assets").as("name"))).as("doc"))
    val nationFeatures = t.customer
      .join(t.nation, col("c_nationkey") === col("n_nationkey"))
      .join(t.region, col("n_regionkey") === col("r_regionkey"))
      .select(layerUrl(svcUrl, col("n_nationkey").cast("long")).as("layer_url"),
        col("c_custkey").cast("long").as("oid"))
    val fsFeatures = t.customer.filter(col("c_custkey") % 10 === 0)
      .select(lit("/rest/municipal/FeatureServer/0").as("layer_url"),
        col("c_custkey").cast("long").as("oid"))
    (mapDocs.union(fsDoc), nationFeatures.union(fsFeatures))
  }

  /** fnmatch wildcard → anchored regex for `rlike`, lowercased — the
    * translation of download_rest.py:215's case-folded
    * `fnmatch.fnmatchcase(lname, p)` include test. `*` and `?` are the
    * wildcards the reference's configs use; everything else matches
    * literally (character classes are not translated). */
  def fnmatchToRegex(pattern: String): String = {
    val sb = new StringBuilder("^")
    pattern.toLowerCase.foreach {
      case '*' => sb.append(".*")
      case '?' => sb.append('.')
      case c if "\\.[]{}()+-^$|".indexOf(c) >= 0 => sb.append('\\').append(c)
      case c => sb.append(c)
    }
    sb.append('$').toString
  }

  /** A13: REST service layer discovery with include patterns
    * (download_rest.py:215 `discover_layers`: enumerate the service doc's
    * `layers`, keep those whose name fnmatch-es ANY include pattern —
    * no patterns keeps everything; :253 single-layer fallback: a service
    * whose layer list produced nothing but whose doc IS a `Feature Layer`
    * contributes itself — the reference applies the fallback after
    * filtering, so include patterns deliberately do NOT gate it).
    * Output one row per discovered layer: (service_url, layer_id,
    * layer_name, layer_url). A layer with no `name` defaults to
    * `layer_<id>` (reference :244). */
  def discoverRestLayers(serviceDocs: DataFrame, include: Seq[String]): DataFrame = {
    val docSchema = StructType(Seq(
      StructField("url", StringType), StructField("type", StringType),
      StructField("id", LongType), StructField("name", StringType),
      StructField("layers", ArrayType(StructType(Seq(
        StructField("id", LongType), StructField("name", StringType)))))))
    val parsed = serviceDocs.select(from_json(col("doc"), docSchema).as("d"))
    val listed = parsed
      .select(col("d.url").as("service_url"), explode(col("d.layers")).as("l"))
      .select(col("service_url"), col("l.id").as("layer_id"),
        coalesce(col("l.name"), concat(lit("layer_"), col("l.id"))).as("layer_name"))
    val included =
      if (include.isEmpty) listed
      else listed.filter(include.map(p => lower(col("layer_name")).rlike(fnmatchToRegex(p)))
        .reduce(_ || _))
    val fsDocs = parsed.filter(col("d.type") === "Feature Layer")
      .select(col("d.url").as("service_url"),
        coalesce(col("d.id"), lit(0L)).as("layer_id"),
        coalesce(col("d.name"),
          concat(lit("layer_"), coalesce(col("d.id"), lit(0L)))).as("layer_name"))
    val fallback = fsDocs.join(
      included.select(col("service_url")).distinct(), Seq("service_url"), "left_anti")
    included.unionByName(fallback)
      .withColumn("layer_url", layerUrl(col("service_url"), col("layer_id")))
  }

  /** A13 registered query: discover the service layers (include patterns
    * applied), pull each discovered layer's features off the wire, and
    * reconcile per layer — count + key checksum; a discovered layer that
    * served nothing still reports 0 (monitoring parity with the
    * reference's per-layer feature log, download_rest.py:207). */
  def restLayers(spark: SparkSession, dir: String,
      include: Seq[String] = Seq("nation_1*", "*_2")): DataFrame = {
    val (docs, features) = buildRestServiceWire(spark, dir)
    discoverRestLayers(docs, include)
      .join(features, Seq("layer_url"), "left")
      .groupBy(col("service_url"), col("layer_id"), col("layer_name"))
      .agg(count(col("oid")).as("n_features"),
        coalesce(sum(col("oid")), lit(0L)).cast("long").as("key_checksum"))
      .orderBy(col("service_url"), col("layer_id"))
  }

  /** Record-level staging of a REST layer sweep — the config-path entry
    * ([[graft.config.Pipeline.stage]] `format: "rest"`): discover layers
    * (config include patterns applied), land each discovered layer's
    * features as (layer_name, rec) rows for the shared layered load. */
  def stageRestRecords(serviceDocs: DataFrame, featureWire: DataFrame,
      include: Seq[String]): DataFrame = {
    discoverRestLayers(serviceDocs, include)
      .select(col("layer_url"), col("layer_name"))
      .join(featureWire, Seq("layer_url"))
      .select(col("layer_name"), col("oid").as("rec"))
  }

  /** The two Atom link-address formats, shared by the wire builder AND
    * the staging join so the two can never drift apart. Enclosure links
    * address a downloadable archive; service links address a filterable
    * service — alternating wfs-style and arcgis-style URLs so BOTH
    * [[isFilterableService]] branches are exercised on the wire. */
  private def atomEnclosureHref(key: Column): Column =
    concat(lit("/files/nation_"), key.cast("string"), lit(".zip"))
  private def atomServiceHref(key: Column): Column =
    when(key % 2 === 0,
      concat(lit("/geoserver/wfs?typename=nation_"), key.cast("string")))
      .otherwise(concat(lit("/arcgis/rest/services/nation_"),
        key.cast("string"), lit("/MapServer/0")))

  /** The Atom wire a feed server would deliver: ONE feed document per
    * region (authority), whose entries are that region's nations. Link
    * plan per entry (nation key k):
    *   - k % 3 == 0: a downloadable archive — rel="enclosure" for even k,
    *     zip CONTENT-TYPE with a non-enclosure rel for odd k (both
    *     download classes of download_atom.py:135) — plus an alternate
    *     text/html link that must be SKIPPED;
    *   - k % 3 == 1: a filterable-service link (wfs-style / arcgis-style
    *     alternating — is_filterable_service, download_atom.py:164);
    *   - k % 3 == 2: an alternate html link only (even k — present but
    *     unclassifiable) or NO links at all (odd k).
    * The file wire addresses each download-class href's records (that
    * nation's suppliers); /docs/ pages deliberately serve nothing.
    * Deterministic, built from the ground-truth tables. Returns
    * (feedDocs: (authority, feed_xml), fileWire: (href, rec)). */
  def buildAtomWire(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val t = Tables(spark, dir)
    val k = col("n_nationkey")
    val altLink = concat(lit("<link rel=\"alternate\" type=\"text/html\" href=\"/docs/nation_"),
      k.cast("string"), lit(".html\"/>"))
    val links = when(k % 3 === 0, concat(
        when(k % 2 === 0,
          concat(lit("<link rel=\"enclosure\" href=\""), atomEnclosureHref(k), lit("\"/>")))
          .otherwise(concat(lit("<link rel=\"related\" type=\"application/zip\" href=\""),
            atomEnclosureHref(k), lit("\"/>"))),
        altLink))
      .when(k % 3 === 1,
        concat(lit("<link rel=\"alternate\" href=\""), atomServiceHref(k), lit("\"/>")))
      .otherwise(when(k % 2 === 0, altLink).otherwise(lit("")))
    val entry = concat(lit("<entry><id>"), k.cast("string"),
      lit("</id><title>"), col("n_name"), lit("</title>"), links, lit("</entry>"))
    val feedDocs = t.nation
      .join(t.region, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("authority"))
      .agg(concat(lit("<feed xmlns=\"http://www.w3.org/2005/Atom\"><title>"),
        col("r_name"), lit("</title>"),
        array_join(array_sort(collect_list(entry)), ""), lit("</feed>")).as("feed_xml"))
      .select(col("authority"), col("feed_xml"))
    val sk = col("s_nationkey")
    val fileWire = t.supplier
      .filter(sk % 3 < 2)
      .select(when(sk % 3 === 0, atomEnclosureHref(sk))
          .otherwise(atomServiceHref(sk)).as("href"),
        col("s_suppkey").cast("long").as("rec"))
    (feedDocs, fileWire)
  }

  /** Is the URL a filterable service (download_atom.py:164
    * `is_filterable_service`): wfs / ogc / features / collections tokens,
    * or an arcgis FeatureServer/MapServer address. Pure string Columns —
    * codegen'd, no UDF. */
  def isFilterableService(href: Column): Column = {
    val u = lower(href)
    u.contains("wfs") || u.contains("ogc") || u.contains("features") ||
      u.contains("collections") ||
      (u.contains("arcgis") && (u.contains("featureserver") || u.contains("mapserver")))
  }

  /** Classify one atom:link with the reference's precedence
    * (download_atom.py:135-142): rel="enclosure" OR a zip content-type →
    * `enclosure` (direct download); otherwise, IF the source enables
    * `filter_services` and the href is a filterable service → `service`
    * (the A10 bbox-bypass path); anything else → `skipped`. */
  def classifyAtomLink(rel: Column, typ: Column, href: Column,
      filterServices: Boolean): Column =
    when(rel === "enclosure" ||
        typ.isin("application/zip", "application/x-zip-compressed"), lit("enclosure"))
      .when(lit(filterServices) && isFilterableService(href), lit("service"))
      .otherwise(lit("skipped"))

  /** Parse feed documents → one row per atom:entry (authority, entry_id,
    * entry_title, entry_xml) with A7's native-regexp XML machinery —
    * schema-on-read, per-row, codegen'd, no parser dependency. */
  def parseAtomEntries(feedDocs: DataFrame): DataFrame =
    feedDocs.select(col("authority"),
        explode(regexp_extract_all(col("feed_xml"),
          lit("(?s)<entry>(.*?)</entry>"), lit(1))).as("entry_xml"))
      .select(col("authority"),
        regexp_extract(col("entry_xml"), "<id>([0-9]+)</id>", 1)
          .cast("long").as("entry_id"),
        regexp_extract(col("entry_xml"), "<title>(.*?)</title>", 1).as("entry_title"),
        col("entry_xml"))

  /** Entry→link discovery: one row per (entry, link) with the link's
    * rel/type/href attributes extracted and the link CLASSIFIED
    * ([[classifyAtomLink]]). A link-less entry survives as one row with a
    * NULL link (explode_outer) so monitoring can still report it. */
  def atomEntryLinks(feedDocs: DataFrame, filterServices: Boolean): DataFrame =
    parseAtomEntries(feedDocs)
      .withColumn("link_xml", explode_outer(
        regexp_extract_all(col("entry_xml"), lit("<link[^>]*/>"), lit(0))))
      .select(col("authority"), col("entry_id"), col("entry_title"),
        regexp_extract(col("link_xml"), "rel=\"([^\"]*)\"", 1).as("rel"),
        regexp_extract(col("link_xml"), "type=\"([^\"]*)\"", 1).as("link_type"),
        regexp_extract(col("link_xml"), "href=\"([^\"]*)\"", 1).as("href"),
        col("link_xml"))
      .withColumn("link_class",
        when(col("link_xml").isNull, lit(null).cast("string"))
          .otherwise(classifyAtomLink(col("rel"), col("link_type"), col("href"),
            filterServices)))
      .drop("link_xml")

  /** A15 registered query: the feed→entries→links discovery protocol
    * (download_atom.py:122-150) end-to-end. Parse the feed's entries,
    * classify every link, pull each download-class link's records off the
    * file wire, and reconcile PER ENTRY: the class that landed it, record
    * count, key checksum — an entry whose links all classified `skipped`
    * (or that has no links) still reports with class `none` and 0 records
    * (the reference logs per-source download counts; zero is a visible
    * outcome, not an absent row). The sequential feed walk becomes one
    * distributed parse + classify + join — no driver loop. */
  def atomFeed(spark: SparkSession, dir: String,
      filterServices: Boolean = true): DataFrame = {
    val (feedDocs, fileWire) = buildAtomWire(spark, dir)
    val links = atomEntryLinks(feedDocs, filterServices)
    val entries = links.select(col("authority"), col("entry_id"), col("entry_title"))
      .distinct()
    // per-entry class precedence is EXPLICIT (enclosure > service,
    // download_atom.py:135-142 checks enclosure first) — an entry
    // carrying both link kinds lands via its enclosure and ONLY the
    // winning class's records count, rather than trusting lexicographic
    // order or the wire's one-download-link-per-entry shape
    val staged = links.filter(col("link_class").isin("enclosure", "service"))
      .join(fileWire, Seq("href"), "left")
      .groupBy(col("entry_id"), col("link_class"))
      .agg(count(col("rec")).as("n_rec"),
        coalesce(sum(col("rec")), lit(0L)).cast("long").as("ck"))
      .groupBy(col("entry_id"))
      .agg(max_by(struct(col("link_class"), col("n_rec"), col("ck")),
        when(col("link_class") === "enclosure", 2).otherwise(1)).as("best"))
      .select(col("entry_id"), col("best.link_class").as("lc"),
        col("best.n_rec").as("n_rec"), col("best.ck").as("ck"))
    entries.join(staged, Seq("entry_id"), "left")
      .select(col("authority"), col("entry_id"), col("entry_title"),
        coalesce(col("lc"), lit("none")).as("link_class"),
        coalesce(col("n_rec"), lit(0L)).as("n_records"),
        coalesce(col("ck"), lit(0L)).as("key_checksum"))
      .orderBy(col("authority"), col("entry_id"))
  }

  /** Record-level staging of an Atom feed sweep — the config-path entry
    * ([[graft.config.Pipeline.stage]] `format: "atom"`): discover the
    * feed's entries, classify each link (service links gated by the
    * source's `filterServices`, the reference's `raw.filter_services`
    * download_atom.py:142), and land each download-class link's records
    * as (layer_name, rec) rows — one layer per ENTRY — for the shared
    * layered load. */
  def stageAtomRecords(feedDocs: DataFrame, fileWire: DataFrame,
      filterServices: Boolean): DataFrame =
    atomEntryLinks(feedDocs, filterServices)
      .filter(col("link_class").isin("enclosure", "service"))
      .select(col("entry_title").as("layer_name"), col("href"))
      .join(fileWire, Seq("href"))
      .select(col("layer_name"), col("rec"))

  /** A6: full-snapshot re-ingest (read side of load_sde.py's
    * truncate-and-load): write a snapshot, read it back, reconcile. */
  def snapshotLoad(spark: SparkSession, dir: String): DataFrame = {
    val out = Tables.scratch(spark, "graft_snapshot/lineitem")
    Tables(spark, dir).lineitem
      .filter(col("l_returnflag") === "R")
      .write.mode("overwrite").parquet(out)
    spark.read.parquet(out)
      .groupBy(col("l_linestatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("l_extendedprice")), 2).as("sum_price"))
      .orderBy(col("l_linestatus"))
  }

  /** A17: staged-filename derivation (download_http.py:135 `download_file`
    * + :32 `slug`): the reference's URL→filename protocol, typed. Per URL:
    * strip the query, take the last path segment (trailing slashes
    * dropped, pathlib-style), percent-decode (the wire plants only %20 —
    * decoded with the same `replace` on both engines), empty → "download";
    * the extension survives only on the reference's whitelist
    * (download_http.py:145); a decoded name ≤ 50 chars that isn't the
    * "download" placeholder is kept verbatim, anything else falls back to
    * `slug(hint, 40) + ext` with the reference's exact slug pipeline
    * (lower → Swedish char map → spaces→_ → unsafe→_ → collapse → trim →
    * cut at 40, 'unnamed' fallback). Name collisions inside the batch —
    * the case the reference timestamp-suffixes — are detected with a
    * per-fname window and reported per rule. All per-row string
    * arithmetic + one tiny rollup; full oracle. */
  def urlFilenames(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = Tables(spark, dir)
    val k = col("p_partkey")
    // two long-name variants: a whitelisted extension (kept on the slug)
    // and a non-whitelisted one (stripped — download_http.py:145)
    val longName = concat(lit("very_long_export_name_"),
      lpad(k.cast("string"), 40, "0"),
      when(k % 10 === 1, lit(".json")).otherwise(lit(".tiff")))
    val url = when(k % 5 === 0,
        concat(lit("https://host/data/file_"), k.cast("string"), lit(".zip?token=abc")))
      .when(k % 5 === 1, concat(lit("https://host/d/"), longName))
      .when(k % 5 === 2, lit("https://host/api/export"))
      .when(k % 5 === 3,
        concat(lit("https://host/files/My%20Report"), (k % 7).cast("string"), lit(".csv")))
      .otherwise(concat(lit("?list="), k.cast("string")))
    val path = regexp_replace(substring_index(url, "?", 1), "/+$", "")
    val nameEnc = regexp_extract(path, "([^/]*)$", 1)
    val nameDec = regexp_replace(nameEnc, "%20", " ")
    val name = when(nameDec === "", "download").otherwise(nameDec)
    val extRaw = lower(regexp_extract(nameEnc, "(\\.[^./]+)$", 1))
    val ext = when(extRaw.isin(".zip", ".json", ".geojson", ".gdb", ".gpkg",
      ".csv", ".txt", ".gz"), extRaw).otherwise(lit(""))
    // slug(hint, 40): the reference pipeline, step for step
    val slugged = {
      val s0 = lower(trim(coalesce(col("p_name"), lit("unnamed"))))
      val s1 = translate(regexp_replace(s0, "ß", "ss"), "åäöéü", "aaoeu")
      val s2 = regexp_replace(regexp_replace(regexp_replace(s1, " ", "_"),
        "[^a-z0-9_\\-]+", "_"), "_+", "_")
      val s3 = substring(regexp_replace(s2, "^_+|_+$", ""), 1, 40)
      when(s3 === "", "unnamed").otherwise(s3)
    }
    val kept = length(name) <= 50 && name =!= "download"
    val base = t.part
      .select(k.as("key"),
        when(kept, "kept_original").otherwise("slug_fallback").as("rule"),
        when(kept, name).otherwise(concat(slugged, ext)).as("fname"),
        (extRaw =!= "" && ext === "").cast("int").as("ext_stripped"))
    val w = Window.partitionBy(col("fname")).orderBy(col("key"))
    base
      .withColumn("needs_timestamp", (row_number().over(w) > 1).cast("int"))
      .groupBy(col("rule"))
      .agg(count(lit(1)).as("n"),
        sum(col("needs_timestamp")).cast("long").as("n_collisions"),
        sum(col("ext_stripped")).cast("long").as("n_ext_stripped"),
        sum(col("key")).cast("long").as("key_checksum"))
      .orderBy(col("rule"))
  }

  /** A16: ORC staging round-trip — the second columnar format the engine
    * serves (Spark ships ORC natively). A projection stages as ORC, and
    * the ranged re-read must keep the same pushdown/pruning contract the
    * parquet paths get: the quantity predicate reaches the ORC reader as
    * `PushedFilters` and the read schema carries only the projected
    * columns (spec-asserted). Counts and an integer checksum reconcile
    * against the source table, so a lossy or reordered round-trip
    * hash-mismatches the oracle. */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = Tables.scratch(spark, "graft_snapshot/lineitem_orc")
    Tables(spark, dir).lineitem
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_returnflag"))
      .write.mode("overwrite").orc(out)
    spark.read.orc(out)
      .filter(col("l_quantity") >= 25.0)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        sum(col("l_orderkey")).cast("long").as("key_checksum"))
      .orderBy(col("l_returnflag"))
  }
}
