package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Staging / normalization (SURVEY §2 B). Re-expresses op-etl's staging
  * layer (/root/reference/etl/stage_files.py, utils.py) as declarative,
  * shuffle-light column transforms.
  */
object Staging {

  /** B6: schema-drift detection — the reference's loads are
    * schema-matched (load_sde.py Append dies mid-load on a mismatched
    * source); a pipeline at scale DETECTS drift up front and reports
    * per-column what changed. Pure metadata work (no data scan): compare
    * the staged schema against the load target's expected schema →
    * one row per drifted or matching column. */
  def schemaDrift(spark: SparkSession, expected: org.apache.spark.sql.types.StructType,
      actual: org.apache.spark.sql.types.StructType): DataFrame = {
    import spark.implicits._
    // keep ALL fields per name: Spark allows duplicate column names (e.g.
    // a post-join staging output), and a duplicated column is itself
    // drift the pre-load gate must report, not silently collapse
    def byName(s: org.apache.spark.sql.types.StructType): Map[String, Seq[String]] =
      s.fields.toSeq.groupBy(_.name).view.mapValues(_.map(_.dataType.typeName).toSeq).toMap
    val exp = byName(expected)
    val act = byName(actual)
    val rows = (exp.keySet ++ act.keySet).toSeq.sorted.map { name =>
      (exp.getOrElse(name, Seq.empty), act.getOrElse(name, Seq.empty)) match {
        case (e, a) if e.size > 1 || a.size > 1 =>
          (name, "duplicated", e.mkString("|"), a.mkString("|"))
        case (Seq(e), Seq(a)) if e == a => (name, "ok", e, a)
        case (Seq(e), Seq(a))           => (name, "retyped", e, a)
        case (Seq(e), Seq())            => (name, "missing", e, "")
        case (Seq(), Seq(a))            => (name, "extra", "", a)
        case (e, a)                     => (name, "duplicated", e.mkString("|"), a.mkString("|"))
      }
    }
    rows.toDF("column", "status", "expected_type", "actual_type")
      .orderBy(col("column"))
  }

  /** B6 registered form: the orders table staged through a drifted v2
    * source (one column dropped, one added, one narrowed) against the
    * warehouse's expected schema. Hash-exact gate since r13: the oracle
    * rebuilds the expected schema from information_schema over the same
    * parquet, injects the same drift, and replays the diff classes;
    * StagingSpec covers the classes this wire can't reach (duplicated). */
  def schemaDriftReport(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val expected = t.orders.schema
    val staged = t.orders
      .drop("o_orderpriority")                           // column vanished upstream
      .withColumn("o_ingest_src", lit("rest"))           // new upstream column
      .withColumn("o_orderkey", col("o_orderkey").cast("int")) // narrowed type
    schemaDrift(spark, expected, staged.schema)
  }

  /** Reserved names the target store rejects (utils.py:104 — Windows/
    * ArcPy device-name conflicts); suffixed `_data` after truncation,
    * matching the reference's order of operations. */
  val reservedNames: Seq[String] =
    Seq("con", "prn", "aux", "nul") ++
      (1 to 9).map(i => s"com$i") ++ (1 to 9).map(i => s"lpt$i")

  /** The reference's safe-name rule (utils.py:56 make_arcpy_safe_name,
    * download_rest.py:33 sanitize_layer_name): lowercase, collapse
    * non-alphanumeric runs to `_`, trim, prefix names starting with a
    * digit, truncate to max_length, reserved-word suffix. Pure per-row
    * expression — codegen'd, shuffle-free. */
  def safeName(c: Column, maxLength: Int = 100): Column = {
    val cleaned = trim(regexp_replace(lower(c), "[^a-z0-9]+", "_"), "_")
    val nonEmpty = when(length(cleaned) === 0, lit("unnamed_fc")).otherwise(cleaned)
    val prefixed = when(substring(nonEmpty, 1, 1).rlike("^[0-9]"),
      concat(lit("fc_"), nonEmpty)).otherwise(nonEmpty)
    val truncated = substring(prefixed, 1, maxLength)
    when(truncated.isin(reservedNames: _*), concat(truncated, lit("_data")))
      .otherwise(truncated)
  }

  /** B1: sanitize layer/field names carried as data. */
  def sanitizeNames(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.part
      .select(col("p_partkey"), safeName(col("p_name")).as("safe_name"),
        safeName(col("p_type")).as("safe_type"))
      .orderBy(col("p_partkey"))
  }

  /** B7: schema-evolution read. B6 DETECTS drift before load; this is the
    * read-side complement — a layout whose generations were written under
    * DIFFERENT schemas (a column added mid-stream, the most common
    * warehouse evolution) must still serve one unified frame:
    * `mergeSchema` reconciles the footers and the missing column
    * surfaces as nulls on pre-evolution generations. The rollup proves
    * exactly which generation carries the gap (per-generation null
    * counts), so a reader can audit the evolution boundary instead of
    * discovering it as a downstream NPE. */
  def schemaEvolve(spark: SparkSession, dir: String): DataFrame = {
    val root = Tables.scratch(spark, "graft_evolve/part")
    val t = Tables(spark, dir).part
    // generation 1: written before the price column existed
    t.select(col("p_partkey"), col("p_name")).withColumn("gen", lit(1))
      .write.mode("overwrite").partitionBy("gen").parquet(root)
    // generation 2: the evolved schema
    t.select(col("p_partkey"), col("p_name"), col("p_retailprice"))
      .withColumn("gen", lit(2))
      .write.mode("append").partitionBy("gen").parquet(root)
    spark.read.option("mergeSchema", "true").parquet(root)
      .groupBy(col("gen").cast("int").as("gen"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("p_retailprice").isNull, 1L).otherwise(0L)).cast("long")
          .as("n_missing_price"),
        round(sum(coalesce(col("p_retailprice"), lit(0.0))), 2).as("sum_price"),
        sum(col("p_partkey")).cast("long").as("key_checksum"))
      .orderBy(col("gen"))
  }

  /** B2: normalize to a target schema — prune, cast, standardize strings,
    * money as integral cents (stage_files.py staging writes a fixed
    * schema per feature class). */
  def schemaNormalize(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.customer
      .select(
        col("c_custkey").cast("long").as("custkey"),
        upper(trim(col("c_name"))).as("name"),
        col("c_nationkey").cast("long").as("nationkey"),
        round(col("c_acctbal") * 100).cast("long").as("acctbal_cents"),
        coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"))
      .orderBy(col("custkey"))
  }

  /** B3: dominant-geometry-type split (stage_files.py:33
    * _dominant_geometry_type + :48 _filter_features_by_geometry_type):
    * per group, find the most frequent type and keep only it. */
  def geomTypeSplit(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val typed = t.part.withColumn("geom_type",
      when(col("p_partkey") % 3 === 0, "Point")
        .when(col("p_partkey") % 3 === 1, "LineString").otherwise("Polygon"))
    val counts = typed.groupBy(col("p_brand"), col("geom_type"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("p_brand")).orderBy(col("n").desc, col("geom_type"))
    counts.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("p_brand"), col("geom_type").as("dominant_type"), col("n").as("n_features"))
      .orderBy(col("p_brand"))
  }

  /** GeoJSON geometry type → ArcGIS shape type (stage_files.py:56
    * `_geojson_to_arcgis_geometry_type`): the multi-variants collapse
    * (MultiLineString → Polyline, MultiPolygon → Polygon), anything else
    * maps Unknown. */
  def arcgisShapeType(t: Column): Column =
    when(t === "Point", "Point")
      .when(t === "MultiPoint", "Multipoint")
      .when(t.isin("LineString", "MultiLineString"), "Polyline")
      .when(t.isin("Polygon", "MultiPolygon"), "Polygon")
      .otherwise("Unknown")

  /** B3b core: per-source declared-vs-dominant geometry classification
    * (stage_files.py:71 `_validate_geometry_type_match` + :113
    * `_stage_geojson_as_points_fallback`). Input: one row per feature
    * (source, declared_type, geom_type). Per source:
    *   - `match`    — the shape type staged from the DECLARED type equals
    *                  the shape type of the data's DOMINANT geometry
    *                  (case-collapsed through the ArcGIS map, so a
    *                  LineString declaration over MultiLineString data
    *                  matches — both Polyline);
    *   - `fallback` — they disagree but the dominant type maps to a real
    *                  shape type: the reference salvages the load by
    *                  re-staging with the explicit geometry type, keeping
    *                  only features of the dominant shape (:48
    *                  `_filter_features_by_geometry_type`);
    *   - `failed`   — the dominant type is unmappable (Unknown): the
    *                  explicit CreateFeatureclass itself fails (:93),
    *                  nothing stages.
    * `n_staged` counts the features the surviving feature class holds.
    * One hash-agg shuffle on (source, type) + one tiny per-source window. */
  def classifyGeomStaging(feats: DataFrame): DataFrame = {
    val counts = feats
      .withColumn("shape_type", arcgisShapeType(col("geom_type")))
      .groupBy(col("source"), col("declared_type"), col("geom_type"), col("shape_type"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("source")).orderBy(col("n").desc, col("geom_type"))
    val dominant = counts.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("source"), col("declared_type"),
        col("geom_type").as("dominant_type"), col("shape_type").as("dominant_shape"))
    val perSource = counts.groupBy(col("source"))
      .agg(sum(col("n")).cast("long").as("n_features"))
    val stageable = counts.select(col("source"), col("shape_type"), col("n"))
      .join(dominant.select(col("source"), col("dominant_shape")), Seq("source"))
      .filter(col("shape_type") === col("dominant_shape"))
      .groupBy(col("source")).agg(sum(col("n")).cast("long").as("n_dominant"))
    dominant.join(perSource, Seq("source")).join(stageable, Seq("source"))
      .withColumn("status",
        when(col("dominant_shape") === "Unknown", "failed")
          .when(arcgisShapeType(col("declared_type")) === col("dominant_shape"), "match")
          .otherwise("fallback"))
      .select(col("source"), col("declared_type"), col("dominant_type"),
        col("status"), col("n_features"),
        when(col("status") === "failed", lit(0L)).otherwise(col("n_dominant"))
          .as("n_staged"))
  }

  /** B3b: geometry-type mismatch fallback over the part wire — each brand
    * is a source whose DECLARED type derives from its brand digits and
    * whose features carry their own (sometimes disagreeing) geometry
    * types; the classification decides staged / salvaged-by-fallback /
    * failed per source. Full oracle; the planted-mismatch spec drives
    * [[classifyGeomStaging]] with every class. */
  def geomTypeFallback(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    // declared type from the brand's numeric suffix ("Brand#13" → 13);
    // brands are variable-length, so take the whole tail, not one digit
    val brandNum = substring(col("p_brand"), 7, 8).cast("int")
    val feats = t.part.select(
      col("p_brand").as("source"),
      when(brandNum % 4 === 0, "Point")
        .when(brandNum % 4 === 1, "LineString")
        .when(brandNum % 4 === 2, "Polygon")
        .otherwise("MultiPolygon").as("declared_type"),
      when(col("p_partkey") % 5 === 0, "Point")
        .when(col("p_partkey") % 5 === 1, "MultiPoint")
        .when(col("p_partkey") % 5 === 2, "LineString")
        .when(col("p_partkey") % 5 === 3, "MultiLineString")
        .otherwise("Polygon").as("geom_type"))
    classifyGeomStaging(feats).orderBy(col("source"))
  }

  /** B5: staging data-quality audit — per-column null / blank / range
    * violations in one conditional-aggregation pass (the reference
    * validates fields and coordinates before load; sr_utils.py +
    * stage_files.py schema checks). */
  def nullAudit(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.lineitem.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("l_orderkey").isNull, 1).otherwise(0)).cast("long").as("null_orderkey"),
        sum(when(col("l_returnflag").isNull || length(col("l_returnflag")) === 0, 1)
          .otherwise(0)).cast("long").as("blank_returnflag"),
        sum(when(col("l_quantity").isNull || col("l_quantity") <= 0, 1)
          .otherwise(0)).cast("long").as("bad_quantity"),
        sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1)
          .otherwise(0)).cast("long").as("bad_discount"),
        sum(when(col("l_shipdate").isNull, 1).otherwise(0)).cast("long").as("null_shipdate"))
  }

  /** Character trigrams of a string (whole string when shorter than 3) —
    * the blocking key of [[fuzzyMatch]]. */
  def trigrams(c: Column): Column =
    when(length(c) >= 3,
      transform(sequence(lit(1), length(c) - 2), i => c.substr(i, lit(3))))
    .otherwise(array(c))

  /** B8: fuzzy record linkage — the staging step the reference does by
    * exact safe-name equality (utils.py naming) but real dirty feeds
    * need approximately: match incoming records to the canonical
    * dimension when names arrive corrupted (dropped characters,
    * doubled letters, separator drift). Classic two-stage shape:
    * TRIGRAM BLOCKING first — a candidate pair must share at least one
    * character 3-gram, so the match join is gram-keyed instead of a
    * (records × dimension) cross product — then exact Levenshtein
    * verify (Spark's native `levenshtein`, codegen'd) with a distance
    * cap, best match per record by (distance, name) — deterministic, no
    * window: one max_by-style agg. At 100 TB the gram side of a MODEST
    * dimension broadcasts (AQE decides; unhinted here) and the dirty
    * side streams through — no all-pairs stage anywhere. Wire: each
    * part's name is corrupted by one of three deterministic rules
    * (first char dropped / last char doubled / spaces to underscores —
    * each edit distance 1 from its clean form). Rollup per matched
    * canonical name (UNMATCHED never occurs on this wire but is
    * reported as a class, not dropped). Full oracle. */
  def fuzzyMatch(spark: SparkSession, dir: String, maxDist: Int = 2): DataFrame = {
    val t = Tables(spark, dir)
    val clean = t.part.select(col("p_name").as("clean_name")).distinct()
    val k = col("p_partkey")
    val dirtyName = when(k % 3 === 0, expr("substr(p_name, 2)"))
      .when(k % 3 === 1,
        concat(col("p_name"), substring(col("p_name"), -1, 1)))
      .otherwise(regexp_replace(col("p_name"), " ", "_"))
    val dirty = t.part.select(k.cast("long").as("key"), dirtyName.as("dirty_name"))
    // the registered wire blocks UNCAPPED (the part-name catalog is a
    // dimension: 64 distinct names, max trigram df 16 at sf0.1 — the
    // oracle replays the uncapped rule); hostile stop-gram catalogs go
    // through the dfCap (AdversarialLayoutSpec pins the bound)
    fuzzyMatchOver(clean, dirty, maxDist, dfCap = Int.MaxValue)
  }

  /** The B8 trigram-blocked candidate frame over explicit catalogs:
    * (key, dirty_name, clean_name) pairs sharing at least one BLOCKING
    * trigram. `dfCap` declares the blocking bound: a trigram carried by
    * more than `dfCap` distinct clean names is a STOP-gram and blocks
    * nothing (the prefix-filtering trade — a pair sharing only
    * stop-grams is declared a non-candidate; on a hostile catalog where
    * every name shares one gram, the uncapped join is |dirty|·|clean|).
    * Per-gram fan-out is then ≤ dfCap·df_dirty, so candidates stay
    * linear in the gram table instead of quadratic in the corpus. */
  def fuzzyCandidates(clean: DataFrame, dirty: DataFrame, dfCap: Int): DataFrame = {
    val cleanG = clean.select(col("clean_name"),
      explode(array_distinct(trigrams(col("clean_name")))).as("g"))
      .localCheckpoint(true)
    val blocking =
      if (dfCap == Int.MaxValue) cleanG
      else cleanG.join(
        broadcast(cleanG.groupBy(col("g")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= dfCap).select(col("g"))), Seq("g"), "left_semi")
    val dirtyG = dirty.select(col("key"), col("dirty_name"),
      explode(array_distinct(trigrams(col("dirty_name")))).as("g"))
    dirtyG.join(blocking, Seq("g"))
      .select(col("key"), col("dirty_name"), col("clean_name")).distinct()
  }

  /** B8 core over explicit (clean_name) / (key, dirty_name) catalogs —
    * split out so the adversarial spec can drive a hostile stop-gram
    * layout through the df-capped blocking. */
  def fuzzyMatchOver(clean: DataFrame, dirty: DataFrame, maxDist: Int,
      dfCap: Int): DataFrame = {
    val best = fuzzyCandidates(clean, dirty, dfCap)
      .withColumn("dist", levenshtein(col("dirty_name"), col("clean_name")))
      .filter(col("dist") <= maxDist)
      .groupBy(col("key"))
      .agg(min_by(struct(col("clean_name"), col("dist")),
        struct(col("dist"), col("clean_name"))).as("b"))
      .select(col("key"), col("b.clean_name").as("matched_name"),
        col("b.dist").as("dist"))
    dirty.join(best, Seq("key"), "left")
      .groupBy(coalesce(col("matched_name"), lit("UNMATCHED")).as("matched_name"))
      .agg(count(lit(1)).as("n_records"),
        coalesce(sum(col("dist")), lit(0L)).cast("long").as("total_dist"),
        sum(col("key")).cast("long").as("key_checksum"))
      .orderBy(col("matched_name"))
  }

  /** B4: best candidate by feature count (utils.py:24
    * best_shapefile_by_count): per nation, the supplier with the highest
    * account balance (argmax with deterministic tie-break). */
  def bestCandidate(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val w = Window.partitionBy(col("s_nationkey"))
      .orderBy(col("s_acctbal").desc, col("s_suppkey"))
    t.supplier.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("s_nationkey").cast("int").as("nationkey"),
        col("s_suppkey").as("best_suppkey"), col("s_name").as("best_name"),
        col("s_acctbal").as("best_acctbal"))
      .orderBy(col("nationkey"))
  }

  /** Root of the B9 quarantine layout. */
  def quarantineRoot(spark: SparkSession): String = Tables.scratch(spark, "graft_quarantine")

  /** B9: DEAD-LETTER quarantine routing — the load-side complement of
    * D6/D11's response validation: instead of failing the batch on the
    * first bad row (all-or-nothing) or silently dropping violations,
    * every row routes to exactly one destination — `clean` or a
    * reason-partitioned quarantine — so the load keeps its throughput
    * while violations stay queryable for replay after the upstream fix
    * (the dead-letter-queue pattern). Rules evaluate as a first-match-
    * wins chain (the D12 elif precedent) in ONE pass; the validated
    * frame is checkpointed once so the two destination writes don't
    * rescan the source; quarantine partitions by reason, so replaying
    * one violation class is a partition-pruned read. The audit rollup is
    * read back FROM the routed files — the oracle replaying the rule
    * chain from source certifies both the routing and the bytes. */
  def quarantineRoute(spark: SparkSession, dir: String): DataFrame = {
    val root = quarantineRoot(spark)
    val routed = Tables(spark, dir).lineitem
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_discount"), col("l_tax"))
      .withColumn("reason",
        when(col("l_tax") > 0.06, "tax_above_cap")
          .when(col("l_discount") > 0.08, "discount_above_cap")
          .when(col("l_quantity") > 45.0, "quantity_outlier")
          .otherwise("clean"))
      .localCheckpoint(true) // one source scan feeds both writes
    routed.filter(col("reason") === "clean").drop("reason")
      .write.mode("overwrite").parquet(s"$root/clean")
    routed.filter(col("reason") =!= "clean")
      .write.mode("overwrite").partitionBy("reason").parquet(s"$root/quarantine")
    val clean = spark.read.parquet(s"$root/clean")
      .select(lit("clean").as("reason"), col("l_orderkey"), col("l_quantity"))
    val quar = spark.read.parquet(s"$root/quarantine")
      .select(col("reason").cast("string").as("reason"), col("l_orderkey"), col("l_quantity"))
    clean.unionByName(quar)
      .groupBy(col("reason"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_orderkey")).cast("long").as("key_checksum"),
        round(sum(col("l_quantity")), 2).as("qty_sum"))
      .orderBy(col("reason"))
  }
}
