package graft.operators

import graft.Tables
import graft.functions.{JaccardSorted, ShingleHashes, SimHash64}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (SURVEY §2 F1–F5).
  *
  * Scale design: exact/fingerprint dedup are single hash-shuffles on the
  * digest; the near-dup operators never run an unblocked O(n²) pass —
  * candidates come from LSH band buckets (MinHash) / blocking keys
  * (Jaccard) / prefix buckets (SimHash), so the only shuffles are
  * groupBys on bucket keys.
  */
object Dedup {

  /** Distinct character 3-gram shingles of the lowercased text. */
  def shingles(text: Column): Column = {
    val lowered = lower(text)
    when(length(lowered) >= 3,
      array_distinct(transform(sequence(lit(1), length(lowered) - 2),
        i => lowered.substr(i, lit(3)))))
      .otherwise(array().cast("array<string>"))
  }

  /** The F49 planted boilerplate header: exactly 20 words, shared with
    * the oracle SQL and the spec so all three replay one wire. */
  val ParagraphBoiler: String = (1 to 20).map(i => s"boiler$i").mkString(" ")

  /** F1: exact dedup — group by full content (digest shown for compact
    * output), keep the lowest doc_id. One shuffle on the digest. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.documents
      .groupBy(md5(col("text").cast("binary")).as("grp"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper"))
      .orderBy(col("grp"))
  }

  /** F49: paragraph-level exact dedup — the C4 / Dolma sub-document
    * pass: a repeated PARAGRAPH is dropped from every document except
    * its first owner, while the surrounding unique text survives (doc-
    * level dedup F1 can only keep or kill whole documents; boilerplate
    * headers/footers/license blocks need this). The corpus's word
    * streams carry no newline structure, so "paragraph" = consecutive
    * `w`-word chunk of the token stream (the same unit chunk-level
    * tokenizer dedup uses on real corpora); keep-first-owner is the
    * canonical (doc_id, chunk_idx)-lexicographic first occurrence,
    * encoded as one comparable key so both engines agree with a plain
    * min. Per-doc report: chunk count, corpus-duplicated chunks, kept
    * chunks, and a checksum folding the kept chunk hashes.
    *
    * Scale shape: chunks shuffle ONCE as (md5, ids) for the global
    * df/first-owner agg (map-side combined), then join back on the hash
    * (AQE-planned); no self-join, no all-pairs, no window over the
    * corpus. At 100 TB this is the standard two-pass chunk-hash dedup. */
  /** The F49/F50/G15 planted wire over a (doc_id, text) frame (the
    * piiScrub/url-dedup convention): the corpus has no organic repeated
    * paragraphs, so every 7th doc gets the SAME w-word boilerplate
    * header prepended — the header/license-block shape the paragraph
    * pass exists to strip; chunk 0 of each such doc is the boilerplate
    * exactly, later chunks are the doc's own (shifted) text. */
  def paragraphWire(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(col("doc_id") % 7 === 0,
        concat(lit(ParagraphBoiler + " "), col("text")))
        .otherwise(col("text")).as("text"))

  /** The shared F49/F50/G15 chunk frame over an explicit (doc_id, text)
    * frame: (doc_id, chunk_idx, h, occ_key) per non-empty w-word chunk.
    * No wire applied here — callers choose ([[paragraphWire]] for the
    * registered ops, raw frames for specs). */
  def paragraphChunksOf(docs: DataFrame, w: Int): DataFrame = {
    val toksDf = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
    val nChunks = ceil(size(col("toks")).cast("double") / w).cast("int")
    toksDf
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(0), greatest(nChunks - 1, lit(0))),
          i => array_join(slice(col("toks"), i * w + 1, lit(w)), " "))))
      .withColumnRenamed("pos", "chunk_idx").withColumnRenamed("col", "chunk")
      .filter(length(col("chunk")) > 0)
      .withColumn("h", md5(col("chunk").cast("binary")))
      .withColumn("occ_key", col("doc_id") * 1000000L + col("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"), col("h"), col("occ_key"))
  }

  /** The corpus chunk frame, hashes-only through a checkpoint both batch
    * consumers reuse. */
  private def paragraphChunks(spark: SparkSession, dir: String, w: Int): DataFrame = {
    val t = Tables(spark, dir)
    paragraphChunksOf(paragraphWire(t.documents.select(col("doc_id"), col("text"))), w)
      // hashes only through the checkpoint — the chunk STRINGS never
      // shuffle (the F30 rule: gram text stays partition-local)
      .localCheckpoint(true)
  }

  def dedupParagraph(spark: SparkSession, dir: String, w: Int = 20): DataFrame = {
    val chunks = paragraphChunks(spark, dir, w)
    val stats = chunks.groupBy(col("h"))
      .agg(count(lit(1)).as("n_copies"), min(col("occ_key")).as("keeper_key"))
    chunks.join(stats, Seq("h"))
      .withColumn("kept", col("occ_key") === col("keeper_key"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("n_copies") > 1, 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), conv(substring(col("h"), 1, 8), 16, 10).cast("long"))
          .otherwise(0L)).as("kept_checksum"))
      .orderBy(col("doc_id"))
  }

  /** F50: SOFT dedup — frequency-based DOWN-WEIGHTING instead of F49's
    * hard removal (the SoftDeDup idea: duplicated text is down-sampled in
    * training, not deleted, preserving signal the hard pass would throw
    * away). Each document's sampling weight is the mean inverse
    * multiplicity of its chunks, in exact integer PPM so both engines
    * agree bit-for-bit with zero float folding: a chunk appearing n times
    * corpus-wide contributes `1_000_000 div n`; weight_ppm = mean of the
    * contributions (floor division). All-unique doc ⇒ 1_000_000;
    * boilerplate-carrying docs drop in proportion to the header's corpus
    * frequency. `eff_chunks_ppm` = n_chunks·weight_ppm is the doc's
    * effective (de-duplicated) size — what a weighted sampler (F21)
    * consumes as its weight column.
    *
    * Scale shape: same two-pass chunk-hash plan as F49 (one shuffle of
    * hashes for multiplicity, join back on the hash), reusing the same
    * checkpointed chunk frame — nothing new moves. */
  def dedupSoft(spark: SparkSession, dir: String, w: Int = 20): DataFrame = {
    val chunks = paragraphChunks(spark, dir, w)
    val mult = chunks.groupBy(col("h")).agg(count(lit(1)).as("n_copies"))
    chunks.join(mult, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(expr("1000000 div n_copies")).as("inv_sum"))
      .select(col("doc_id"), col("n_chunks"),
        expr("inv_sum div n_chunks").as("weight_ppm"),
        (col("n_chunks") * expr("inv_sum div n_chunks")).as("eff_chunks_ppm"))
      .orderBy(col("doc_id"))
  }

  /** F2's fingerprint: md5 over the sorted distinct token set — ONE
    * definition shared with F24 so incremental dedup can never classify
    * against a different fingerprint than the batch op. */
  def fingerprint(text: Column): Column = fingerprintOfToks(TextAnalysis.tokens(text))

  /** Fingerprint over an already-tokenized column — for callers that
    * carry `toks` through a pipeline and must not re-tokenize. */
  def fingerprintOfToks(toks: Column): Column =
    md5(array_join(array_sort(array_distinct(toks)), " ").cast("binary"))

  /** F2: fingerprint dedup — md5 over the sorted distinct token set, so
    * reordered / re-whitespaced copies collapse to one group. */
  def dedupFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.documents
      .groupBy(fingerprint(col("text")).as("fingerprint"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper"))
      .orderBy(col("fingerprint"))
  }

  /** F24: incremental dedup — a NEW crawl batch deduplicated against the
    * EXISTING corpus (the steady-state shape of production dedup: the
    * corpus is deduped once; every new batch needs only batch×corpus and
    * batch×batch checks, never a full-corpus self-join). Fingerprints are
    * F2's sorted-distinct-token md5. Batch docs classify as
    * `dup_of_corpus` (fingerprint already in the corpus — dropped),
    * `dup_in_batch` (first occurrence in the batch wins), or `novel`.
    * The corpus side never broadcasts (E23's pattern): a fixed-size bloom
    * of corpus fingerprints screens the batch, survivors are exact-
    * verified with a plain shuffle join on the fingerprint; rollup with
    * doc-id checksums proves the partition is lossless. */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val docs = t.documents.select(col("doc_id"), fingerprint(col("text")).as("fp"))
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    // steady state: the bloom-sizing estimate persists beside the corpus
    // keyed by its file stamp, so repeat batches against an unchanged
    // corpus size their screen WITHOUT re-scanning the corpus
    val est = cachedCorpusEstimate(spark, dir,
      corpus.agg(approx_count_distinct(col("fp"))).head().getLong(0))
    // the modeled split: every 5th doc arrives in the new batch
    classifyBatch(
      corpus = corpus,
      batch = docs.filter(col("doc_id") % 5 === 0),
      corpusFpEstimate = Some(est))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).cast("long").as("doc_checksum"))
      .orderBy(col("status"))
  }

  /** Corpus-cardinality estimate (approximate distinct fingerprints),
    * persisted as a [[graft.io.Artifacts]] version of `documents.parquet`,
    * so steady-state incremental dedup sizes its bloom with zero corpus
    * scans per batch. Any corpus rewrite the listing sees builds a new
    * version, and the next call re-measures ONCE. `compute` is by-name:
    * it runs only when the version is missing. A stale estimate could
    * only shift the screen's false-positive rate — the exact verify join
    * keeps correctness regardless. */
  def cachedCorpusEstimate(spark: SparkSession, dir: String, compute: => Long): Long = {
    val verDir = graft.io.Artifacts.version(spark, "card", dir, "documents.parquet",
        "fp_approx_distinct") { tmp =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(tmp, "estimate"), compute.toString)
    }
    java.nio.file.Files.readString(java.nio.file.Paths.get(verDir, "estimate")).toLong
  }

  /** The classification core of F24, factored so specs can plant every
    * status (both inputs: (doc_id, fp)): corpus hit > batch-internal dup
    * (first doc_id wins) > novel.
    *
    * Scale shape: the corpus fingerprint set is NEVER broadcast (at
    * 100 TB it is billions of digests — a broadcast OOMs the driver).
    * Instead a [[graft.functions.BloomAggregate]] bloom of the corpus fps
    * — SIZED from a one-agg HLL estimate of the corpus cardinality
    * (~13 bits/key, the F6/F17 measure-first pattern; one bounded row
    * regardless of corpus size, capped at 32 MiB) — screens the batch;
    * only the bloom survivors exact-verify through an UNHINTED
    * fp-key join (a shuffle hash/sort-merge join — scale-safe; AQE may
    * still pick a broadcast when the corpus genuinely IS small). The
    * bloom has no false negatives, so a batch row the bloom clears is
    * provably absent from the corpus and skips the join entirely; false
    * positives only cost a survivor row in the verify join. Each fp lands
    * wholly in one branch (screen is deterministic per fp), so the batch-
    * internal first-doc-wins window is unaffected by the split. */
  def classifyBatch(corpus: DataFrame, batch: DataFrame,
      corpusFpEstimate: Option[Long] = None): DataFrame = {
    import graft.functions.BloomAggregate
    val spark = corpus.sparkSession
    val corpusFps = corpus.select(col("fp")).distinct()
    // measure first: estimated distinct corpus fps sizes the bloom (a
    // partial-aggregated HLL scan — no shuffle of the fp set itself).
    // STEADY STATE: the estimate only sizes the screen, so a caller that
    // already knows the corpus cardinality — catalog statistics, or a
    // count persisted per corpus version ([[cachedCorpusEstimate]]) —
    // passes it and classification stays LAZY:
    // no per-batch eager pass over a 100 TB corpus just to size a
    // ≤32 MiB bloom. The HLL scan is the no-estimate fallback, and a
    // stale estimate only shifts the screen's FPR, never correctness
    // (the exact verify join catches every false positive).
    val corpusEst = corpusFpEstimate.getOrElse(
      corpus.agg(approx_count_distinct(col("fp"))).head().getLong(0))
    // one bounded row: corpus-sized bloom over the fp set (md5 hex → long key)
    val bloomRow = corpusFps
      .agg(BloomAggregate.bloomAgg(spark, xxhash64(col("fp")), corpusEst).as("bits"))
    val screened = batch.join(broadcast(bloomRow))
      .withColumn("maybe_corpus",
        BloomAggregate.mightContain(col("bits"), xxhash64(col("fp"))))
      .drop("bits")
    // survivors verify exactly; NO broadcast hint on the corpus side
    val verified = screened.filter(col("maybe_corpus"))
      .join(corpusFps.withColumn("in_corpus", lit(1)), Seq("fp"), "left")
      .select(col("doc_id"), col("fp"), col("in_corpus"))
    val cleared = screened.filter(!col("maybe_corpus"))
      .select(col("doc_id"), col("fp"), lit(null).cast("int").as("in_corpus"))
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    verified.unionByName(cleared)
      .withColumn("rn", row_number().over(w))
      .withColumn("status",
        when(col("in_corpus").isNotNull, "dup_of_corpus")
          .when(col("rn") > 1, "dup_in_batch")
          .otherwise("novel"))
      .select(col("doc_id"), col("fp"), col("status"))
  }

  /** F3: n-gram Jaccard near-dup pairs (J ≥ threshold, same lang,
    * |n_chars diff| ≤ 30).
    *
    * Scale shape: candidates are generated per (lang, n_chars div 31)
    * block with the right side replicated to its block and the next one —
    * complete for the ≤30 length filter (docs within 30 chars are in the
    * same or adjacent blocks), so blocking changes the plan, never the
    * result. The join key has ~|langs|×|length-blocks| cardinality, so all
    * executors work (a bare lang key serializes into |langs| tasks).
    * Shingles are pre-hashed to sorted distinct longs once per doc
    * (hash-set intersections on longs, not strings) and union size is
    * sz1+sz2−|∩| — no second array op per pair. */
  def ngramJaccard(spark: SparkSession, dir: String, threshold: Double = 0.82): DataFrame = {
    // inject the size-ratio prefilter rule (idempotent)
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!cs.experimental.extraOptimizations.contains(graft.plans.JaccardSizePrefilter))
      cs.experimental.extraOptimizations =
        cs.experimental.extraOptimizations :+ graft.plans.JaccardSizePrefilter
    val t = Tables(spark, dir)
    val d = t.documents.select(col("doc_id"), col("lang"), col("n_chars"),
        ShingleHashes.shingleHashes(spark, col("text")).as("sh"))
      .withColumn("blk", expr("n_chars div 31"))
    // the testdata is a single parquet row group → one input partition; the
    // probe side of the candidate join must be spread or the whole pair
    // evaluation runs on one core (measured 15s → ~2s at sf0.1)
    val left = d.select(col("doc_id").as("id_l"), col("lang").as("lang_l"),
        col("n_chars").as("nc_l"), col("sh").as("sh_l"), col("blk").as("blk_l"))
      .repartition(64, col("lang_l"), col("blk_l")) // explicit N: AQE must not coalesce the probe side
    val right = d.select(col("doc_id").as("id_r"), col("lang").as("lang_r"),
        col("n_chars").as("nc_r"), col("sh").as("sh_r"), col("blk").as("blk_r"))
      .withColumn("bk", explode(array(col("blk_r"), col("blk_r") + 1)))
    left.join(right, col("blk_l") === col("bk") && col("lang_l") === col("lang_r"))
      // each qualifying pair exactly once: higher block is the left side;
      // ties broken by id
      .filter(col("blk_l") > col("blk_r") ||
        (col("blk_l") === col("blk_r") && col("id_l") < col("id_r")))
      .filter(abs(col("nc_l") - col("nc_r")) <= 30)
      .withColumn("jaccard",
        round(JaccardSorted.jaccardSorted(spark, col("sh_l"), col("sh_r")), 4))
      .filter(col("jaccard") >= threshold)
      .select(least(col("id_l"), col("id_r")).as("d1"),
        greatest(col("id_l"), col("id_r")).as("d2"),
        col("lang_l").as("lang"), col("jaccard"))
      .orderBy(col("d1"), col("d2"))
  }

  /** F83: CONTAINMENT near-dup detection — the directional overlap
    * Jaccard structurally misses: a short document embedded verbatim in a
    * long one (quoted articles, README-in-repo, chapter-in-book) has
    * Jaccard ≈ |short|/|long| — arbitrarily low — while containment
    * (shared grams over the SMALLER doc's grams) is ≈ 1. F3's size-band
    * blocking cannot even see these pairs (different sizes by
    * definition); candidates here come from the shared-gram machinery
    * instead: two docs pair iff they share ≥ 1 word 8-gram with corpus
    * df in [2, dfCap] (the F53 bounded fan-out), so pair volume is
    * df-cap-bounded, never O(n²). Numerator = df-capped shared distinct
    * grams (declared: corpus-wide boilerplate grams above the cap don't
    * count as evidence — the winnow argument); denominators = each doc's
    * FULL distinct gram count. Reports both scores — the
    * high-containment / low-Jaccard rows are exactly the embedded-doc
    * class the operator exists for.
    *
    * Scale shape: one explode → distinct 64-bit hashes (8-byte shuffle
    * keys), df filter via one agg + semi join, pair counts via the
    * df-cap-bounded self-join, two broadcastable size joins; thresholds
    * compare ROUNDED values (the engine-portable-verdict convention). */
  def containment(spark: SparkSession, dir: String, k: Int = 8,
      dfCap: Int = 32, threshold: Double = 0.5): DataFrame =
    containmentOf(Tables(spark, dir).documents, k, dfCap, threshold)

  /** The F83 compute over any (doc_id, text) frame — specs plant an
    * embedded short doc whose Jaccard stays low.
    *
    * PRECONDITION (r17 ADVICE): exactly ONE row per doc_id — the
    * gramHashes kernel's within-doc distinct stands in for the old
    * global (doc_id, gh) `.distinct()`, which is only sound when no
    * doc_id repeats (see [[graft.operators.TextAnalysis.textNoveltyOf]]). */
  def containmentOf(documents: DataFrame, k: Int, dfCap: Int,
      threshold: Double): DataFrame = {
    // r17: gramHashes kernel — per-doc distinct hashes emitted directly
    // (one codegen call, zero gram strings), so the exploded rows ARE the
    // distinct (doc_id, gh) pairs and the old global .distinct() exchange
    // is redundant (within-doc distinct ⇒ pair-distinct). Same xxhash64.
    val occ = documents
      .select(col("doc_id"), explode(
        graft.functions.TextKernels.gramHashesCol(col("text"), k)).as("gh"))
    val sizes = occ.groupBy(col("doc_id")).agg(count(lit(1)).as("ng"))
    val shared = occ.groupBy(col("gh")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs").between(2, dfCap))
    val hits = occ.join(shared.select(col("gh")), Seq("gh"), "left_semi")
    val pairs = hits.as("a").join(hits.as("b"),
        col("a.gh") === col("b.gh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("shared"))
    pairs
      .join(sizes.select(col("doc_id").as("d1"), col("ng").as("n1")), Seq("d1"))
      .join(sizes.select(col("doc_id").as("d2"), col("ng").as("n2")), Seq("d2"))
      .withColumn("containment",
        round(col("shared").cast("double") / least(col("n1"), col("n2")), 4))
      .withColumn("jaccard", round(col("shared").cast("double") /
        (col("n1") + col("n2") - col("shared")), 4))
      .filter(col("containment") >= threshold)
      .select(col("d1"), col("d2"), col("n1"), col("n2"), col("shared"),
        col("containment"), col("jaccard"))
      .orderBy(col("d1"), col("d2"))
  }

  /** Connected components over an undirected pair graph — the step
    * large-scale dedup needs AFTER candidate pairs: transitive near-dup
    * groups (a≈b, b≈c ⇒ {a,b,c} one cluster, one keeper).
    *
    * HYBRID solver (r17). Phase 1: min-label propagation — each round
    * every node adopts the min label among itself and its neighbors, ONE
    * cheap distributed job per round (join + partial-agg min, shuffled
    * on the node id). Near-dup graphs are shallow (diameter ≤ a few
    * hops), so this converges in a handful of rounds and is the fast
    * path — the r17 A/B measured pure large-star/small-star 20–50%
    * slower on the gated consumers because each star round pays two
    * joins + two distincts against propagation's single job (and
    * geo_dbscan's grid graph needs >8 propagation rounds, so even a
    * propRounds=8 hybrid regressed it +25%; the default budget therefore
    * stays the full `propRounds`=50 every current workload converges
    * inside, keeping r16 performance bit-for-bit). Phase 2: if
    * propagation has NOT converged inside the budget (a deeper chain —
    * the shape the r16 solver ABORTED on), contract the graph by the
    * current labels and finish the QUOTIENT graph with [[starLabels]],
    * which closes any shape in O(log n) rounds; the final label composes
    * the two phases. Propagation labels are always within-component and
    * the true component min keeps its own label, so the quotient
    * components map 1:1 onto the originals and the composed min is
    * exact. A pathological 10⁶-hop chain thus costs 50 cheap
    * propagation rounds + ~40 star rounds instead of an abort.
    *
    * Driver holds only a moved-counter (phase 1) / digest pair (phase
    * 2); `localCheckpoint` truncates lineage each round. */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame,
      maxIter: Int = 50, propRounds: Int = 50): DataFrame = {
    val edges = pairs.select(col("d1"), col("d2"))
      .union(pairs.select(col("d2").as("d1"), col("d1").as("d2")))
      .localCheckpoint(true)
    var labels = nodes.select(col("doc_id"), col("doc_id").as("label"))
      .localCheckpoint(true)
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < propRounds) {
      // convergence detection is FOLDED into the round: own rows carry a
      // tag, so the same min-aggregate yields old and new label side by
      // side (every node has exactly one own row → old_label never null).
      // ONE distributed job per round (the eager checkpoint); the moved
      // count below scans the checkpointed blocks, it re-derives nothing.
      val prop = edges.join(labels, edges("d1") === labels("doc_id"))
        .select(edges("d2").as("doc_id"), col("label"), lit(false).as("own"))
      val next = labels.withColumn("own", lit(true)).union(prop)
        .groupBy(col("doc_id"))
        .agg(min(col("label")).as("label"),
          min(when(col("own"), col("label"))).as("old_label"))
        .withColumn("moved", col("label") =!= col("old_label"))
        .localCheckpoint(true)
      changed = next.filter(col("moved")).count()
      labels = next.select(col("doc_id"), col("label"))
      iter += 1
    }
    if (changed == 0) labels
    else {
      // deep graph: contract by current labels and let the star solver
      // close the quotient in O(log n) rounds instead of aborting
      val l1 = labels.select(col("doc_id").as("d1"), col("label").as("l1"))
      val l2 = labels.select(col("doc_id").as("d2"), col("label").as("l2"))
      val qPairs = pairs.join(l1, "d1").join(l2, "d2")
        .select(col("l1").as("d1"), col("l2").as("d2"))
        .filter(col("d1") =!= col("d2")).distinct()
      val qNodes = labels.select(col("label").as("doc_id")).distinct()
      val (qLabels, _) = starLabels(qNodes, qPairs, maxIter)
      labels.join(qLabels.select(col("doc_id").as("label"),
          col("label").as("final_label")), Seq("label"))
        .select(col("doc_id"), col("final_label").as("label"))
    }
  }

  /** [[connectedComponents]] plus the round count (the convergence spec
    * pins a 200-node path graph at ≤ 2·log₂ n rounds). */
  def starLabels(nodes: DataFrame, pairs: DataFrame,
      maxIter: Int = 50): (DataFrame, Int) = {
    def canon(e: DataFrame): DataFrame = e
      .filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
      .distinct()
    // large-star needs the OPEN neighborhood in both directions; the
    // canonical set already holds each node's smaller neighbors, so
    // small-star reads it directly
    def largeStar(e: DataFrame): DataFrame = {
      val s = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val m = s.groupBy(col("u"))
        .agg(least(col("u"), min(col("v"))).as("m"))
      canon(s.join(m, "u").filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .union(m.select(col("u").as("a"), col("m").as("b"))))
    }
    def smallStar(e: DataFrame): DataFrame = {
      val m = e.groupBy(col("u")).agg(min(col("v")).as("m"))
      canon(e.join(m, "u").select(col("v").as("a"), col("m").as("b"))
        .union(m.select(col("u").as("a"), col("m").as("b"))))
    }
    // one digest job per round over the freshly checkpointed blocks; the
    // per-edge hash is folded modulo a prime so the sum stays far from
    // Long overflow (ANSI mode throws) up to ~9e9 edges
    def digest(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(sum(pmod(xxhash64(col("u"), col("v")), lit(1000000007L))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var edges = canon(pairs.select(col("d1").as("a"), col("d2").as("b")))
      .localCheckpoint(true)
    var sig = digest(edges)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      val nextSig = digest(next)
      converged = nextSig == sig
      edges = next
      sig = nextSig
      iter += 1
    }
    // a silently non-converged result would split one true duplicate
    // cluster into several keepers — fail loudly instead
    require(converged,
      s"connectedComponents did not converge in $maxIter star rounds; " +
        "raise maxIter (expected ~2*log2(n) rounds)")
    val centers = edges.groupBy(col("u")).agg(min(col("v")).as("m"))
    val labels = nodes.join(centers.select(col("u").as("doc_id"), col("m")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("m"), col("doc_id")).as("label"))
    (labels, iter)
  }

  /** F19: near-dup clustering — connected components over the n-gram
    * Jaccard pair graph (F3), one row per multi-document cluster with its
    * keeper (min doc_id = the component label). Oracle: the same
    * reachability computed by a DuckDB recursive CTE. */
  def dedupComponents(spark: SparkSession, dir: String, threshold: Double = 0.82): DataFrame =
    componentLabels(spark, dir, threshold)
      .groupBy(col("label").as("component"))
      .agg(count(lit(1)).as("n_docs"), max(col("doc_id")).as("max_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("component"))

  /** The F19/F69 shared per-doc component labeling: pair graph
    * materialized once (edges, endpoints, and every CC iteration reuse
    * it — the candidate join is the expensive subtree); the fixpoint
    * iterates ONLY over edge endpoints (a doc in no pair is a singleton
    * and can never reach a multi-doc component). */
  def componentLabels(spark: SparkSession, dir: String, threshold: Double): DataFrame = {
    val pairs = ngramJaccard(spark, dir, threshold)
      .select(col("d1"), col("d2")).localCheckpoint(true)
    val endpoints = pairs.select(col("d1").as("doc_id"))
      .union(pairs.select(col("d2").as("doc_id"))).distinct()
    connectedComponents(endpoints, pairs)
  }

  /** F69: duplicate-cluster REPRESENTATIVE selection — the apply step
    * after F19's clustering: exactly one document survives each near-dup
    * cluster, and WHICH one matters (the standard keep-the-longest rule
    * — most content retained — with the lowest doc_id breaking ties,
    * both engines via one lexicographic max_by). Per cluster: the
    * survivor, its length, and the drop count — what a curation pipeline
    * consumes to materialize the deduped corpus.
    *
    * Scale shape: the cluster labeling is F19's shared fixpoint
    * ([[componentLabels]]); selection adds one broadcast-joined length
    * lookup (labels are endpoint-sized, tiny next to the corpus) and
    * ONE max_by hash agg per cluster. */
  def dedupSelectRep(spark: SparkSession, dir: String, threshold: Double = 0.82): DataFrame = {
    val t = Tables(spark, dir)
    val labels = componentLabels(spark, dir, threshold)
    val lens = t.documents.select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
    labels.join(lens, Seq("doc_id"))
      .groupBy(col("label").as("component"))
      .agg(count(lit(1)).as("n_docs"),
        max_by(col("doc_id"), struct(col("n_chars"), -col("doc_id"))).as("rep_doc"),
        max(col("n_chars")).as("rep_chars"))
      .filter(col("n_docs") >= 2)
      .withColumn("n_dropped", col("n_docs") - 1)
      .select(col("component"), col("n_docs"), col("rep_doc"),
        col("rep_chars"), col("n_dropped"))
      .orderBy(col("component"))
  }

  private val NumPerms = 32
  private val Bands = 8 // 4 rows per band
  private val Prime = 2147483647L

  /** MinHash signature column over pre-hashed shingles (the
    * [[ShingleHashes]] output): per permutation i, min over shingle hashes
    * of (a_i·h + b_i) mod p. */
  def minhashSignature(shingleHashes: Column): Column = {
    // bound each hash into [0, p) first so h*a+b stays well inside Long
    // (Spark 4 is ANSI mode: overflow would throw, not wrap)
    val hashes = transform(shingleHashes, h => pmod(h, lit(Prime)))
    array((0 until NumPerms).map { i =>
      val a = lit(2L * i + 1)
      val b = lit(1000003L * i + 12345L)
      array_min(transform(hashes, h => pmod(h * a + b, lit(Prime))))
    }: _*)
  }

  /** F4: MinHash + LSH banded near-dup. Signature → 8 band hashes →
    * candidates = pairs sharing a band bucket → estimated similarity =
    * fraction of agreeing signature components. Output is a per-doc
    * candidate summary (deterministic even when no near-dups exist). */
  def minhashLsh(spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame = {
    val t = Tables(spark, dir)
    val sig = t.documents
      .select(col("doc_id"),
        minhashSignature(ShingleHashes.shingleHashes(spark, col("text"))).as("sig"))
    val banded = sig.select(col("doc_id"),
        explode(array((0 until Bands).map { h =>
          struct(lit(h).as("band"), xxhash64(lit(h), slice(col("sig"), h * 4 + 1, 4)).as("bh"))
        }: _*)).as("b"))
      .select(col("doc_id"), col("b.band"), col("b.bh"))
    // dedupe (d1, d2) candidates FIRST, then join the 32-element signature
    // arrays back — the full sigs never ride through the band join
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
    val pairs = cand
      .join(sig.select(col("doc_id").as("d1"), col("sig").as("s1")), Seq("d1"))
      .join(sig.select(col("doc_id").as("d2"), col("sig").as("s2")), Seq("d2"))
      .withColumn("est_sim", round(
        aggregate(zip_with(col("s1"), col("s2"),
          (p, q) => when(p === q, 1).otherwise(0)), lit(0), (acc, v) => acc + v)
          .cast("double") / NumPerms, 4))
      .filter(col("est_sim") >= threshold)
    val perDoc = pairs.select(col("d1").as("doc_id"), col("est_sim"))
      .union(pairs.select(col("d2").as("doc_id"), col("est_sim")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_candidates"), max(col("est_sim")).as("max_est_sim"))
    sig.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("max_est_sim"), lit(0.0)).as("max_est_sim"))
      .orderBy(col("doc_id"))
  }

  /** F98: LSH RECALL report — the F79/ann_recall discipline applied to
    * the F2 MinHash-LSH dedup: banding is a probabilistic screen (a pair
    * with signature similarity s lands in a shared band with probability
    * 1 − (1 − s^4)^8), so "how many true near-dup pairs does the banding
    * actually surface?" is THE quality number of the dedup scheme — a
    * recall miss here is a duplicate that survives into training data.
    * Ground truth per probe doc = the corpus docs whose 32-perm
    * signatures agree on ≥ minAgree components (est_sim ≥ 0.5 at the
    * default 16/32 — an EXACT integer rule, no float threshold); found =
    * the band+bucket candidates touching the probe, same agreement
    * filter; recall in exact PPM.
    *
    * Scale shape: probes are a CONSTANT md5-top-N draw (the F79 r14
    * rule — never a corpus fraction); the truth pass is |probes|×corpus
    * with a broadcast probe side; the found pass restricts the band join
    * to probe bands (8·|probes| rows) against the corpus banding. All
    * comparisons are integer agreement counts — zero floats anywhere. */
  def lshRecall(spark: SparkSession, dir: String, nProbes: Int = 20,
      minAgree: Int = 16): DataFrame =
    lshRecallOf(Tables(spark, dir).documents, nProbes, minAgree)

  /** The F98 compute over any (doc_id, text) frame — specs plant exact
    * duplicates (all 32 components agree ⇒ every band collides ⇒ the
    * screen CANNOT miss them) and pin hits ⊆ truth. */
  def lshRecallOf(docs: DataFrame, nProbes: Int = 20,
      minAgree: Int = 16): DataFrame = {
    val (sig, probes, truth) = lshRecallBase(docs, nProbes, minAgree)
    lshRecallReport(probes, truth,
      lshBandedFound(sig, probes, Bands, minAgree))
      .orderBy(col("qid"))
  }

  /** Shared F98/F98b base: 32-perm signatures, the constant md5-top-N
    * probe draw, and the band-independent agreement ground truth. */
  private def lshRecallBase(docs: DataFrame, nProbes: Int,
      minAgree: Int): (DataFrame, DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    val sig = docs
      .select(col("doc_id"),
        minhashSignature(ShingleHashes.shingleHashes(spark, col("text"))).as("sig"))
      .localCheckpoint(true)
    val probes = sig.orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .limit(nProbes)
      .select(col("doc_id").as("qid"), col("sig").as("qsig"))
      .localCheckpoint(true)
    val truth = sig.crossJoin(broadcast(probes))
      .filter(col("doc_id") =!= col("qid") &&
        sigAgree(col("sig"), col("qsig")) >= minAgree)
      .select(col("qid"), col("doc_id"))
      .localCheckpoint(true)
    (sig, probes, truth)
  }

  private def sigAgree(a: Column, b: Column): Column = aggregate(
    zip_with(a, b, (p, q) => when(p === q, 1).otherwise(0)),
    lit(0), (acc, v) => acc + v)

  /** Banded candidates touching the probe set at a given band count
    * (width = 32/bands components). Band identity is decided on the
    * slice ITSELF (structural array equality, matching the oracle's
    * comparison exactly) — an xxhash64 alone would admit a Spark-only
    * candidate on a hash collision, inflating n_hits relative to the
    * oracle. The hash stays as the equi-JOIN key (array keys would force
    * a nested-loop join); the structural check rides the same join as a
    * residual filter, so the plan is still one broadcast hash join. */
  private def lshBandedFound(sig: DataFrame, probes: DataFrame,
      bands: Int, minAgree: Int): DataFrame = {
    val w = NumPerms / bands
    def bandsOf(s: Column) = (0 until bands).map { h =>
      struct(lit(h).as("band"), slice(s, h * w + 1, w).as("bs"),
        xxhash64(lit(h), slice(s, h * w + 1, w)).as("bh"))
    }
    val bandedP = probes.select(col("qid"), col("qsig"),
        explode(array(bandsOf(col("qsig")): _*)).as("b"))
      .select(col("qid"), col("qsig"), col("b.band"), col("b.bs"), col("b.bh"))
    val bandedA = sig.select(col("doc_id"), col("sig"),
        explode(array(bandsOf(col("sig")): _*)).as("b"))
      .select(col("doc_id"), col("sig"), col("b.band"), col("b.bs"), col("b.bh"))
    bandedA.as("a").join(broadcast(bandedP.as("p")),
        col("a.band") === col("p.band") && col("a.bh") === col("p.bh") &&
          col("a.bs") === col("p.bs") &&
          col("a.doc_id") =!= col("p.qid"))
      .select(col("p.qid").as("qid"), col("a.doc_id").as("doc_id"),
        col("a.sig").as("sig"), col("p.qsig").as("qsig"))
      .distinct()
      .filter(sigAgree(col("sig"), col("qsig")) >= minAgree)
      .select(col("qid"), col("doc_id"))
  }

  /** The (n_true, n_hits, recall) rollup shared by F98 and F98b. */
  private def lshRecallReport(probes: DataFrame, truth: DataFrame,
      found: DataFrame): DataFrame = {
    val nTrue = truth.groupBy(col("qid"))
      .agg(count(lit(1)).cast("long").as("n_true"))
    val hits = truth.join(found, Seq("qid", "doc_id"))
      .groupBy(col("qid")).agg(count(lit(1)).cast("long").as("n_hits"))
    probes.select(col("qid"))
      .join(nTrue, Seq("qid"), "left").join(hits, Seq("qid"), "left")
      .withColumn("n_true", coalesce(col("n_true"), lit(0L)))
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("recall_ppm", when(col("n_true") === 0L,
        lit(null).cast("long"))
        .otherwise(expr("n_hits * 1000000 div n_true")))
      .select(col("qid"), col("n_true"), col("n_hits"), col("recall_ppm"))
  }

  /** F98b: the BANDS-vs-RECALL TUNING CURVE — F98 measured banding
    * recall at the production 8×4 layout; the knob a dedup operator
    * actually turns is the band count (more, narrower bands = more
    * collisions = higher recall at higher candidate volume). One row per
    * (bands ∈ {4,8,16}, probe doc) against the SAME agreement ground
    * truth and fixed probe set, so the recall-vs-cost trade is itself an
    * oracle-gated report.
    *
    * Scale shape: signatures, probe draw and the truth pass are SHARED
    * across the sweep (computed once, checkpointed); each sweep point
    * adds one banded broadcast-join over the corpus banding at that
    * width — the same per-point cost as F98 itself. */
  def lshRecallCurve(spark: SparkSession, dir: String, nProbes: Int = 20,
      minAgree: Int = 16, sweep: Seq[Int] = Seq(4, 8, 16)): DataFrame =
    lshRecallCurveOf(Tables(spark, dir).documents, nProbes, minAgree, sweep)

  /** The F98b compute over any (doc_id, text) frame. */
  def lshRecallCurveOf(docs: DataFrame, nProbes: Int = 20,
      minAgree: Int = 16, sweep: Seq[Int] = Seq(4, 8, 16)): DataFrame = {
    val (sig, probes, truth) = lshRecallBase(docs, nProbes, minAgree)
    sweep.map { b =>
      lshRecallReport(probes, truth, lshBandedFound(sig, probes, b, minAgree))
        .select(lit(b).cast("int").as("bands"), col("qid"), col("n_true"),
          col("n_hits"), col("recall_ppm"))
    }.reduce(_.unionByName(_)).orderBy(col("bands"), col("qid"))
  }

  /** F18: winnowing (rolling-hash) fingerprint dedup — MOSS-style
    * fingerprints via the native [[WinnowFingerprints]] expression;
    * candidates = pairs sharing ≥ minShared fingerprints (equi-join on the
    * exploded fingerprint, then a count threshold — two shuffles total,
    * both on small keys). Per-doc candidate summary output.
    *
    * Scale guard: fingerprints shared by more than `dfCap` documents are
    * dropped BEFORE the self-join (standard MOSS practice — a license
    * header / boilerplate fingerprint shared by f docs would otherwise
    * produce f² join rows; the df filter reuses the same fp-hash exchange
    * the join needs, so the cap costs no extra shuffle). The substring
    * guarantee holds for every surviving fingerprint. */
  def winnowDedup(spark: SparkSession, dir: String, minShared: Int = 15,
      dfCap: Int = 64): DataFrame = {
    val t = Tables(spark, dir)
    val fp = t.documents.select(col("doc_id"),
      graft.functions.WinnowFingerprints.winnowFingerprints(spark, col("text")).as("fps"))
    winnowSummary(fp, minShared, dfCap)
  }

  /** Candidate summary over a (doc_id, fps) table — the join core of F18,
    * factored out so specs can drive it with synthetic corpora. */
  def winnowSummary(fp: DataFrame, minShared: Int, dfCap: Int): DataFrame = {
    val exploded = fp.select(col("doc_id"), explode(col("fps")).as("fp"))
    // document frequency per fingerprint on the same hash partitioning the
    // self-join uses; stop-fingerprints (df > cap) never reach the join
    val wFp = Window.partitionBy(col("fp"))
    val kept = exploded.withColumn("df", count(lit(1)).over(wFp))
      .filter(col("df") <= dfCap).drop("df")
    val pairs = kept.as("x").join(kept.as("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    val perDoc = pairs.select(col("d1").as("doc_id"), col("n_shared"))
      .union(pairs.select(col("d2").as("doc_id"), col("n_shared")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_candidates"), max(col("n_shared")).as("max_shared"))
    fp.select(col("doc_id"), size(col("fps")).cast("long").as("n_fingerprints"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_fingerprints"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("max_shared"), lit(0L)).as("max_shared"))
      .orderBy(col("doc_id"))
  }

  val SimhashBands = 4 // 16 bits each; hamming ≤ 3 ⇒ ≥ 1 intact band (pigeonhole)

  /** F5: SimHash near-dup — native `simhash64` expression, the standard
    * 4-band × 16-bit scheme: candidates = pairs agreeing on ANY band,
    * verified by exact hamming distance (xor + bit_count, codegen'd).
    * By pigeonhole a pair at hamming ≤ 3 differs in at most 3 of the 4
    * bands, so candidate recall for the hamming ≤ 3 verify is exactly 1.0
    * (spec-proven vs brute force). Buckets are per-(band, 16-bit value) —
    * 4×2^16 keys, so the only shuffle is a well-spread groupBy; the r1
    * single-band form missed any pair differing in the top 16 bits and
    * capped at 65,536 buckets. Per-doc verified-neighbor summary output. */
  def simhashBuckets(spark: SparkSession, dir: String, maxHamming: Int = 3): DataFrame = {
    val t = Tables(spark, dir)
    val sh = t.documents.select(col("doc_id"),
      SimHash64.simhash64(spark, TextAnalysis.tokens(col("text"))).as("simhash"))
    simhashSummary(sh, maxHamming)
  }

  /** Banded candidate generation + hamming verify over a (doc_id, simhash)
    * table — factored out so specs can drive it with synthetic corpora. */
  def simhashSummary(sh: DataFrame, maxHamming: Int): DataFrame = {
    val pairs = simhashPairs(sh, maxHamming)
    val perDoc = pairs.select(col("d1").as("doc_id"), col("hamming"))
      .union(pairs.select(col("d2").as("doc_id"), col("hamming")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_neardups"), min(col("hamming")).as("min_hamming"))
    sh.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("simhash"),
        coalesce(col("n_neardups"), lit(0L)).as("n_neardups"),
        coalesce(col("min_hamming"), lit(64)).cast("long").as("min_hamming"))
      .orderBy(col("doc_id"))
  }

  /** Verified simhash near-dup pairs: banded candidates (any-band
    * agreement), deduped BEFORE the hamming verify — a pair agreeing on k
    * bands appears k times; the simhashes ride along for free (one long
    * each, unlike the minhash signature arrays). */
  def simhashPairs(sh: DataFrame, maxHamming: Int): DataFrame = {
    val banded = sh.select(col("doc_id"), col("simhash"),
        explode(array((0 until SimhashBands).map { b =>
          struct(lit(b).as("band"),
            shiftrightunsigned(col("simhash"), 16 * b).bitwiseAND(lit(0xFFFFL)).as("bh"))
        }: _*)).as("b"))
      .select(col("doc_id"), col("simhash"), col("b.band"), col("b.bh"))
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
        col("x.simhash").as("s1"), col("y.simhash").as("s2"))
      .distinct()
      .withColumn("hamming", bit_count(col("s1").bitwiseXOR(col("s2"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("d1"), col("d2"), col("hamming"))
  }

  /** Core of [[dedupSubstring]] over an explicit (doc_id, text) frame so
    * specs can plant exact span shapes. */
  def substringSpans(docs: DataFrame, k: Int): DataFrame = {
    // (1) per-row gram construction + ONE posexplode → (doc, pos, gram);
    // no shuffle. pos is 1-based (the word index where the gram starts).
    // Grams collapse to 64-bit hashes BEFORE anything shuffles (8-byte
    // keys instead of ~8-word strings through both the count exchange and
    // the semi join; same equivalence classes — a 64-bit collision over a
    // corpus gram set is ~n²/2⁶⁵), and the frame is checkpointed once so
    // the tokenize+gram pass runs once, not per consumer (the
    // tfidf/lm_score shared-explode convention).
    val grams = docs
      .select(col("doc_id"),
        posexplode(TextAnalysis.wordGrams(TextAnalysis.tokens(col("text")), k))
          .as(Seq("idx", "gram")))
      .select(col("doc_id"), (col("idx") + 1).as("p"), xxhash64(col("gram")).as("gh"))
      .localCheckpoint(true)
    // (2) the duplicated-gram set: count ≥ 2 ANYWHERE in the corpus
    // (cross-doc or within-doc — both are training-data duplication).
    // Map-side partial counts; the dup set is duplicated-keys-only (tiny)
    // and broadcasts into the semi join.
    val dup = grams.groupBy(col("gh")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
    val hits = grams.join(dup.select(col("gh")), Seq("gh"), "left_semi")
    // (3) per-doc span assembly: a surviving gram at p covers words
    // [p, p+k-1]; consecutive survivors merge while their covered ranges
    // overlap or abut (p_next ≤ p_prev + k) — gaps-and-islands over a
    // per-doc window (state bounded by doc length, key = doc_id).
    val w = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    hits
      .withColumn("brk",
        when(lag(col("p"), 1).over(w).isNull, 1)
          .when(col("p") > lag(col("p"), 1).over(w) + k, 1)
          .otherwise(0))
      .withColumn("island",
        sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("p")).cast("long").as("span_start"),
        (max(col("p")) + (k - 1)).cast("long").as("span_end"),
        count(lit(1)).as("n_dup_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1L).as("span_words"),
        col("n_dup_grams"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** F62: substring-span TRIMMING — the APPLY step of F30 (Lee et al.
    * cut the duplicated substring OUT and keep the document): every word
    * covered by a maximal duplicated span is removed, the survivors
    * rejoin in order, and the report carries before/trimmed/after word
    * counts plus the md5 of the trimmed text — the artifact a downstream
    * tokenizer consumes, checksummed so the oracle proves the exact
    * surviving byte stream, not just counts.
    *
    * Scale shape: the span frame is F30's (already shuffle-bounded); the
    * apply is one position explode + a per-doc range anti-join (span
    * lists are per-doc bounded) + one per-doc rebuild agg — everything
    * keyed on doc_id, one shuffle family, no corpus-wide state. */
  def trimSpans(spark: SparkSession, dir: String, k: Int = 8): DataFrame =
    trimSpansOf(Tables(spark, dir).documents.select(col("doc_id"), col("text")), k)

  /** The F62 compute over any (doc_id, text) frame — specs plant shared
    * substrings with hand-computable trims. */
  def trimSpansOf(docs: DataFrame, k: Int): DataFrame = {
    val spans = substringSpans(docs, k)
      .select(col("doc_id").as("s_doc"), col("span_start"), col("span_end"))
    val toks = docs
      .select(col("doc_id"),
        posexplode(TextAnalysis.tokens(col("text"))).as(Seq("idx", "word")))
      .select(col("doc_id"), (col("idx") + 1).as("p"), col("word"))
      .localCheckpoint(true)
    val kept = toks.join(spans,
        col("doc_id") === col("s_doc") &&
          col("p") >= col("span_start") && col("p") <= col("span_end"),
        "left_anti")
    val keptAgg = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_after"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("p"), col("word")))),
          s => s.getField("word")), " ").cast("binary")).as("trimmed_md5"))
    val before = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_before"))
    before.join(keptAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_before"),
        (col("n_before") - coalesce(col("n_after"), lit(0L))).as("n_trimmed"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        coalesce(col("trimmed_md5"),
          lit("d41d8cd98f00b204e9800998ecf8427e")).as("trimmed_md5"))
      .orderBy(col("doc_id"))
  }

  /** F30: duplicated-substring spans — the substring-granular dedup of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better"): report every MAXIMAL span of consecutive words whose word
    * k-grams all occur at least twice in the corpus, in word coordinates,
    * so a trimming pass can cut boilerplate out of otherwise-unique
    * documents instead of dropping them whole (the gap F1–F5 leave: they
    * dedup whole documents, never shared passages).
    *
    * The reference shape is a suffix array over the concatenated corpus —
    * inherently sequential. The Spark-first equivalent: duplicated
    * k-grams ARE the duplicated-substring witnesses (any duplicated
    * substring of length ≥ k contains a duplicated k-gram, and merging
    * overlapping witnesses reconstructs its maximal extent), and k-gram
    * counting + span merging is three shuffle-bounded stages: one gram
    * hash-agg, one reused-exchange semi join, one per-doc window. */
  def dedupSubstring(spark: SparkSession, dir: String, k: Int = 8): DataFrame =
    substringSpans(Tables(spark, dir).documents.select(col("doc_id"), col("text")), k)

  /** URL canonicalization — the key function of F34, factored so specs
    * can feed hand-built URLs. The standard web-corpus identity rules
    * (every large crawl pipeline dedups fetch lists this way):
    *   - fragment dropped (`#...` is client-side only)
    *   - scheme dropped from the KEY (http/https serve the same document)
    *   - host lowercased, leading `www.` and default ports `:80`/`:443`
    *     stripped
    *   - path: trailing slashes stripped (`/a/` ≡ `/a`)
    *   - query: tracking parameters removed (`utm_*`, `fbclid`, `gclid`),
    *     the survivors SORTED (param order is not identity) and rejoined
    * All native string/regexp/array-HOF expressions — per-row, no UDF,
    * no shuffle. */
  def canonicalUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val afterScheme = regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val hostPort = lower(regexp_extract(afterScheme, "^([^/?]+)", 1))
    val host = regexp_replace(regexp_replace(hostPort, "^www\\.", ""), ":(80|443)$", "")
    val path = regexp_replace(
      regexp_extract(afterScheme, "^[^/?]+([^?]*)", 1), "/+$", "")
    val query = regexp_extract(afterScheme, "\\?(.*)$", 1)
    val kept = array_join(array_sort(filter(split(query, "&"),
      p => !p.rlike("^(utm_[^=]*|fbclid|gclid)=") && length(p) > 0)), "&")
    concat(host, path, when(length(kept) > 0, concat(lit("?"), kept)).otherwise(lit("")))
  }

  /** F34: URL deduplication — the fetch-list dedup every web-scale corpus
    * runs BEFORE downloading (CommonCrawl-style pipelines dedup by
    * canonical URL first; content dedup F1–F5 runs after). The wire
    * plants the classic spurious-variant families around each logical
    * resource — case/scheme/default-port, `www.`, trailing slash,
    * tracking params, fragments, shuffled query order — and the operator
    * groups by [[canonicalUrl]]: per canonical resource, the variant
    * count, the KEEPER (smallest key — deterministic, the reference
    * crawl-order rule), and a key checksum. Scale: canonicalization is
    * per-row codegen'd string work; the only shuffle is the final
    * hash-agg on the canonical key. Full oracle (DuckDB reproduces the
    * same string pipeline). */
  def dedupUrl(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val k = col("s_suppkey")
    val g = floor(k / 3).cast("string")
    val m = k % 6
    val base = concat(lit("data"), g, lit(".example.org/files/set"), g, lit("/item"))
    // the wire: one URL per supplier; suppliers in the same g-group are
    // variants of the same logical resource
    val url = when(m === 0, concat(lit("https://"), base))
      .when(m === 1, concat(lit("HTTP://DATA"), g, lit(".EXAMPLE.ORG:80/files/set"),
        g, lit("/item/")))
      .when(m === 2, concat(lit("https://www."), base,
        lit("?utm_source=feed&utm_campaign=x")))
      .when(m === 3, concat(lit("https://"), base, lit("#section-2")))
      .when(m === 4, concat(lit("https://"), base, lit("?b=2&a=1")))
      .otherwise(concat(lit("http://"), base, lit("?a=1&utm_medium=email&b=2")))
    t.supplier
      .select(k.cast("long").as("key"), url.as("url"))
      .withColumn("canonical_url", canonicalUrl(col("url")))
      .groupBy(col("canonical_url"))
      .agg(count(lit(1)).as("n_variants"),
        min(col("key")).as("keeper_key"),
        sum(col("key")).cast("long").as("key_checksum"))
      .orderBy(col("canonical_url"))
  }
}
