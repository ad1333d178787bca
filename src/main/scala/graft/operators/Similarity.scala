package graft.operators

import graft.Tables
import graft.functions.Vec
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search (SURVEY §2 F6–F8) over the
  * `embeddings(vec_id, embedding array<float>, label)` table.
  *
  * Scale design: the exact near-dup pass is blocked on the cluster label
  * (at 100 TB any exact pass must be blocked or pre-bucketed); the ANN
  * scale path is LSH sign-buckets — candidates only ever meet inside a
  * bucket, so the shuffle is a groupBy on the bucket id.
  */
object Similarity {

  /** Serving default for the IVF probe width — the F79b tuning curve's
    * policy decision (r16): the r15 curve rows measured mean recall@10
    * 0.55 at nprobe=3 and ~0.8 at nprobe=5, with the candidate read
    * still bounded by nprobe/|lists| of the corpus, so the shipped
    * per-query serving default is 5. Conf-keyed (`graft.ivf.nprobe`) so
    * a deployment trades recall for list reads without a code change;
    * the BATCH entries keep their explicit nprobe=2 — they amortize one
    * scan across a query set and their oracles pin that tighter cut.
    * The persisted layout is untouched: probe width is query-side.
    *
    * ORACLE COUPLING: the DuckDB oracles for the gated entries that
    * resolve this default (`ann_recall`, `ann_ivf`, `ann_range`,
    * `ann_ivfpq`) hardcode the matching list cut (`rn <= 5`) — the gate
    * is only hash-exact at the shipped default. Setting
    * `graft.ivf.nprobe` to any other value is a DEPLOYMENT knob, not a
    * test knob: it silently invalidates those four gates until the
    * oracle SQL's cut is updated to match. */
  def defaultNprobe(spark: SparkSession): Int =
    spark.conf.get("graft.ivf.nprobe", "5").toInt


  /** F6: exact cosine near-dup pairs within label blocks.
    *
    * Deliberately exact — and therefore quadratic in block population:
    * label cardinality is fixed, so blocks grow with the corpus and this
    * plan cannot survive an unbounded scale-up. Rather than melt at 100×,
    * the operator PRE-MEASURES the pair count with one cheap label
    * histogram (a column-pruned scan + tiny agg) and refuses loudly over
    * budget, pointing at [[neardupIvfGated]] — the oracled IVF-gated
    * variant whose candidate volume is bounded by list population. */
  def neardupCosine(spark: SparkSession, dir: String, threshold: Double = 0.35,
      pairBudget: Long = 20000000L): DataFrame = {
    val t = Tables(spark, dir)
    // norms once per vector, not once per pair (same arithmetic as
    // Vec.cosine: dot / (sqrt(dot aa) * sqrt(dot bb)))
    val e = t.embeddings.select(col("vec_id"), col("label"),
        Vec.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", Vec.norm(col("v")))
    // pair-budget guard: sum of n·(n−1)/2 over the label histogram
    val estPairs = t.embeddings.groupBy(col("label")).agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(col("n") * (col("n") - 1)), lit(0L)).as("p"))
      .head().getLong(0) / 2
    require(estPairs <= pairBudget,
      s"neardup_cosine would materialize ~$estPairs intra-block pairs " +
        s"(budget $pairBudget): the exact all-pairs plan does not scale to this " +
        "corpus — use neardup_ivf_gated (IVF-list-gated exact rescore) instead")
    val a = e.select(col("vec_id").as("id1"), col("label"), col("v").as("v1"), col("nrm").as("n1"))
    val b = e.select(col("vec_id").as("id2"), col("label"), col("v").as("v2"), col("nrm").as("n2"))
    a.join(b, Seq("label"))
      .filter(col("id1") < col("id2"))
      .withColumn("cos", round(Vec.dot(col("v1"), col("v2")) / (col("n1") * col("n2")), 4))
      .filter(col("cos") >= threshold)
      .select(col("id1"), col("id2"), col("label").cast("int").as("label"), col("cos"))
      .orderBy(col("id1"), col("id2"))
  }

  /** F7: brute-force cosine top-k against a query vector (the baseline ANN
    * path: one scan + TakeOrderedAndProject, no full sort). */
  def annTopK(spark: SparkSession, dir: String, queryId: Long = 0L, k: Int = 20): DataFrame = {
    val t = Tables(spark, dir)
    val q = t.embeddings.filter(col("vec_id") === queryId)
      .select(col("embedding")).head().getSeq[Float](0)
    val qv = array(q.map(x => lit(x.toDouble)): _*)
    t.embeddings
      .filter(col("vec_id") =!= queryId)
      .withColumn("score", round(Vec.cosine(Vec.toDouble(col("embedding")), qv), 4))
      .select(col("vec_id"), col("label").cast("int").as("label"), col("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)
  }

  /** F48: MMR-DIVERSIFIED serving — Maximal Marginal Relevance
    * (Carbonell & Goldstein 1998) re-rank over the retrieved candidate
    * set: after relevance retrieval picks top-C, each of the k returned
    * results maximizes λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s), so near-
    * duplicate hits cannot crowd the result page — the diversity
    * complement to the F6/F41 dedup family, applied at query time.
    *
    * Scale split: RETRIEVAL stays fully distributed (one scan + bounded
    * heap, the F7 shape — at 100 TB swap in the F8b IVF fetch); the
    * GREEDY RE-RANK runs on the driver over the C collected candidates,
    * a bounded set like the IVF quantizer collect — k·C cosines of
    * 64-dim vectors, microseconds. Every comparison (and the oracle's)
    * happens on HALF_UP 4-decimal-rounded scores with vec_id
    * tie-breaks, so the greedy trajectory is engine-portable and the
    * unrolled-step SQL oracle replays it exactly. */
  def annMmrDiverse(spark: SparkSession, dir: String, queryId: Long = 0L,
                    k: Int = 5, c: Int = 20): DataFrame = {
    val t = Tables(spark, dir)
    val q = t.embeddings.filter(col("vec_id") === queryId)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val qv = array(q.map(lit): _*)
    val cand = t.embeddings.filter(col("vec_id") =!= queryId)
      .withColumn("simq", round(Vec.cosine(Vec.toDouble(col("embedding")), qv), 4))
      .select(col("vec_id"), col("simq"), Vec.toDouble(col("embedding")).as("v"))
      .orderBy(col("simq").desc, col("vec_id"))
      .limit(c)
      .collect() // bounded: the C-row re-rank set, never the corpus
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val cs = cand.map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Double](2)))
    val sel = scala.collection.mutable.ArrayBuffer[(Long, Double, Double)]()
    val selV = scala.collection.mutable.ArrayBuffer[Seq[Double]]()
    while (sel.length < math.min(k, cs.length)) {
      val scored = cs.filter(cd => !sel.exists(_._1 == cd._1)).map { cd =>
        // 0.7 / 0.3 as independent literals: `1 - 0.7` is not the double
        // 0.3, and the oracle writes 0.3
        val score = if (sel.isEmpty) cd._2
        else r4(0.7 * cd._2 - 0.3 * selV.map(sv => r4(cos(cd._3, sv))).max)
        (cd, score)
      }
      val best = scored.maxBy { case (cd, s) => (s, -cd._1) }
      sel += ((best._1._1, best._1._2, best._2))
      selV += best._1._3
    }
    import spark.implicits._
    sel.toSeq.zipWithIndex
      .map { case ((id, simq, sc), i) => (i + 1L, id, simq, sc) }
      .toDF("rank", "vec_id", "simq", "mmr_score")
      .orderBy(col("rank"))
  }

  val NPlanes = 8

  /** PQ subspace count used by the persisted index layout and the ADC ops
    * (64 dims / 8 subspaces = 8-dim sub-vectors, one byte-sized code each). */
  val PqSubspaces = 8

  /** F8: LSH sign-bucketing — the ANN scale path. Bucket occupancy per
    * hyperplane-sign code; per-bucket recall is spec-verified against F7. */
  def annLshBuckets(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val planes = Vec.planeWeights(NPlanes, 64)
    t.embeddings
      .withColumn("bucket", Vec.lshBucket(Vec.toDouble(col("embedding")), planes))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), min(col("vec_id")).as("min_vec_id"))
      .orderBy(col("bucket"))
  }

  /** F8c: multi-probe LSH ANN — instead of more hash tables (more
    * memory), probe the query's bucket PLUS every bucket at sign-code
    * hamming distance 1 (the perturbation most likely to hold a missed
    * neighbor: one borderline hyperplane flip). 9 of 256 buckets touched
    * per query — recall is strictly ≥ the single-bucket path at ~9/256 of
    * the corpus scanned, no extra index state. Deterministic hyperplanes
    * ⇒ full oracle. */
  def annLshMultiProbe(spark: SparkSession, dir: String, queryId: Long = 0L,
      k: Int = 20): DataFrame = {
    val t = Tables(spark, dir)
    val planes = Vec.planeWeights(NPlanes, 64)
    val e = t.embeddings
      .withColumn("bucket", Vec.lshBucket(Vec.toDouble(col("embedding")), planes))
    val q = e.filter(col("vec_id") === queryId)
      .select(col("bucket"), Vec.toDouble(col("embedding")).as("qv")).head()
    val (qb, qv) = (q.getLong(0), q.getSeq[Double](1))
    val probes = qb +: (0 until NPlanes).map(h => qb ^ (1L << h))
    val qvCol = array(qv.map(lit): _*)
    e.filter(col("bucket").isin(probes: _*) && col("vec_id") =!= queryId)
      .withColumn("score", round(Vec.cosine(Vec.toDouble(col("embedding")), qvCol), 4))
      .select(col("vec_id"), col("bucket").cast("long").as("bucket"), col("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)
  }

  /** Per-vector bucket assignment (used by the recall spec). */
  def lshAssign(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val planes = Vec.planeWeights(NPlanes, 64)
    t.embeddings.withColumn("bucket", Vec.lshBucket(Vec.toDouble(col("embedding")), planes))
      .select(col("vec_id"), col("label"), col("bucket"))
  }

  /** One spherical-k-means refinement pass over the coarse quantizer:
    * reassign every vector to its nearest centroid (cosine), then recompute
    * centroids as per-list means — both steps distributed (broadcast
    * centroids, posexplode + partial agg). Returns the refined
    * (label, cv) centroid table; iterate for Lloyd-style convergence. */
  def refineCentroids(e: DataFrame, cents: DataFrame): DataFrame = {
    val assigned = e.crossJoin(broadcast(cents.select(col("label").as("c_label"), col("cv"))))
      .withColumn("sim", Vec.cosine(col("v"), col("cv")))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("v"), col("c_label")), struct(col("sim"), -col("c_label"))).as("best"))
      .select(col("best.v").as("v"), col("best.c_label").as("list_id"))
    assigned.select(col("list_id"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("list_id"), col("pos")).agg(avg(col("x")).as("c"))
      .groupBy(col("list_id"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        s => s.getField("c")).as("cv"))
      .select(col("list_id").as("label"), col("cv"))
  }

  /** F85: Lloyd k-means over the embedding corpus, oracle-gated — the H2
    * refinement loop promoted to a first-class operator with an
    * engine-portable determinism contract: centroid components ROUND to
    * 4 decimals after every update (the F64 rounded-distance device), so
    * each round's assignment argmax compares cosines computed from
    * IDENTICAL rounded inputs in both engines (the in-order list fold of
    * `Vec.cosine` / `list_inner_product`), and the only float-fold-order
    * exposure is inside each avg immediately before its rounding (the
    * D36 class). Ties go to the smaller centroid id. Clusters that lose
    * every member simply drop their row — the same event in both
    * replays.
    *
    * Scale shape: the |k|×dims centroid table broadcasts every round;
    * assignment is ONE max_by hash agg per round (no window, no
    * pairwise stage); updates are posexplode + partial-agg means —
    * k·dims-sized results. The corpus frame is localCheckpoint'd once
    * and re-read per round (at 100 TB this is the once-per-corpus-
    * version index-build job, the `ann_ivf_index` amortization
    * argument — rounds × one corpus scan, nothing quadratic). */
  def kmeans(spark: SparkSession, dir: String, rounds: Int = 2): DataFrame =
    kmeansAssign(spark, dir, rounds)
      .withColumn("sim", Vec.cosine(col("v"), col("cv")))
      .groupBy(col("c_label").cast("long").as("cluster"))
      .agg(count(lit(1)).as("n"), round(avg(col("sim")), 4).as("mean_sim"))
      .orderBy(col("cluster"))

  /** The F85 Lloyd loop ending at the final per-vector assignment
    * (vec_id, v, c_label, cv) — ONE builder shared by the F85 report
    * and the F89 purity readout so the two can never disagree about
    * which cluster a vector landed in. */
  def kmeansAssign(spark: SparkSession, dir: String, rounds: Int = 2): DataFrame = {
    val e = vectors(spark, dir).localCheckpoint(true)
    val r4 = (c: DataFrame) => c.withColumn("cv",
      transform(col("cv"), x => round(x, 4)))
    var cents = r4(labelCentroids(e)
      .select(col("label").cast("int").as("c_label"), col("cv")))
    for (_ <- 1 to rounds) {
      val assigned = assignNearest(e, cents)
      cents = r4(assigned
        .select(col("c_label"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("c_label"), col("pos")).agg(avg(col("x")).as("c"))
        .groupBy(col("c_label"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          s => s.getField("c")).as("cv")))
    }
    assignNearest(e, cents)
  }

  /** F89: CLUSTER PURITY of the Lloyd assignment against the stored
    * labels — the external-validity companion to F76's silhouette
    * (internal geometry): per cluster, which label dominates and by how
    * much. A refinement that merely re-shuffles vectors between
    * same-label clusters keeps purity at 1e6; purity collapse after a
    * re-train is the re-index alarm (the D36 drift monitor's
    * clustering-side twin). Ties on the majority label break to the
    * smaller label id.
    *
    * Scale shape: rides the F85 assignment verbatim (broadcast
    * centroids, max_by argmax); the readout is TWO hash aggs over
    * (cluster, label) cells — |clusters|×|labels|-bounded — and exact
    * integer PPM division. */
  def embPurity(spark: SparkSession, dir: String): DataFrame = {
    val asg = kmeansAssign(spark, dir)
      .join(vectors(spark, dir).select(col("vec_id"), col("label")), Seq("vec_id"))
    asg.groupBy(col("c_label").cast("long").as("cluster"),
        col("label").cast("long").as("label"))
      .agg(count(lit(1)).cast("long").as("cnt"))
      .groupBy(col("cluster"))
      .agg(sum(col("cnt")).cast("long").as("n"),
        max_by(struct(col("label"), col("cnt")),
          struct(col("cnt"), -col("label"))).as("best"))
      .select(col("cluster"), col("n"), col("best.label").as("majority_label"),
        col("best.cnt").as("n_majority"))
      .withColumn("purity_ppm", expr("n_majority * 1000000 div n"))
      .orderBy(col("cluster"))
  }

  /** Nearest-centroid argmax (cosine, smaller-id tie-break) keeping the
    * winning centroid's vector on the row — the shared F85 round step. */
  private def assignNearest(e: DataFrame, cents: DataFrame): DataFrame =
    e.crossJoin(broadcast(cents))
      .withColumn("sim", Vec.cosine(col("v"), col("cv")))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("v"), col("c_label"), col("cv")),
        struct(col("sim"), -col("c_label"))).as("best"))
      .select(col("vec_id"), col("best.v").as("v"),
        col("best.c_label").as("c_label"), col("best.cv").as("cv"))

  /** Embedding table in (vec_id, label, v: array<double>) form. NOT
    * cached: at 100 TB this is the full corpus — consumers re-scan it
    * (cheap, pruned columnar) rather than pin it in memory. */
  def vectors(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).embeddings
      .select(col("vec_id"), col("label"), Vec.toDouble(col("embedding")).as("v"))

  /** Label-mean coarse centroids (the IVF starting point). */
  def labelCentroids(e: DataFrame): DataFrame =
    e.select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos")).agg(avg(col("x")).as("c"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        s => s.getField("c")).as("cv"))

  /** Nearest-centroid (inverted-list) assignment for every vector: the
    * coarse quantizer is trained distributed ([[labelCentroids]]), then
    * collected (|lists|×dims — tiny) and broadcast back, as real IVF keeps
    * it. max_by over a (sim, -label) struct = one hash aggregate, no
    * window sort; ties go to the smaller label. */
  def trainQuantizer(e: DataFrame): Seq[(Int, Seq[Double])] =
    labelCentroids(e).collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq

  def listAssignments(spark: SparkSession, e: DataFrame,
      cents: Seq[(Int, Seq[Double])]): DataFrame = {
    import spark.implicits._
    val centsDf = cents.toDF("c_label", "cv")
      .select(col("c_label"), col("cv").cast("array<double>").as("cv"))
    // the source row's own attributes (label) ride along into the lists:
    // attribute-filtered ANN (hard-negative mining, metadata predicates)
    // must evaluate its filter INSIDE the probed partitions, not through
    // a corpus-sized join at query time
    e.crossJoin(broadcast(centsDf))
      .withColumn("sim", Vec.cosine(col("v"), col("cv")))
      .groupBy(col("vec_id"))
      .agg(max_by(struct(col("label"), col("v"), col("c_label")),
        struct(col("sim"), -col("c_label"))).as("best"))
      .select(col("vec_id"), col("best.label").as("label"),
        col("best.v").as("v"), col("best.c_label").as("list_id"))
  }

  /** Lloyd refinement passes the index build runs over the coarse
    * quantizer before assignment ([[refineCentroids]], conf key
    * `graft.ivf.refine`, default 0 — the label-mean quantizer, which the
    * DuckDB oracles replicate exactly). Each pass reassigns every vector
    * to its nearest centroid and recomputes the centroid means —
    * balancing list populations, which tightens every IVF op's candidate
    * bound. The refine count is part of the layout stamp, so flipping
    * the conf key rebuilds into a NEW index version rather than serving
    * centroids the setting no longer describes. */
  def ivfRefinePasses(spark: SparkSession): Int = {
    val n = spark.conf.get("graft.ivf.refine", "0").toInt
    require(n >= 0 && n <= 16, s"graft.ivf.refine=$n outside [0,16]")
    n
  }

  /** Persisted IVF index (the real-IVF layout contract): inverted lists
    * written ONCE `partitionBy(list_id)` — the D8 partitioned-prune
    * contract ([[LoadOps.partitionedPrune]]) applied to ANN — with the
    * per-vector norm precomputed and the trained quantizer persisted next
    * to the lists. Queries re-read the layout with a `list_id` filter, so
    * the scan prunes to the probed directories (`PartitionFilters` in the
    * plan) instead of recomputing assignment per query — at 100 TB the
    * assignment job runs once per corpus version, and a query touches
    * nprobe partitions. The layout is a [[graft.io.Artifacts]] version of
    * `embeddings.parquet`: any rewrite of the table builds a new version
    * (a stale index must never serve a new corpus). */
  def ivfIndex(spark: SparkSession, dir: String): (String, Seq[(Int, Seq[Double])]) = {
    import spark.implicits._
    val refine = ivfRefinePasses(spark)
    // epoch: pq2 = lists carry PQ sub-codes; pq3 = rows also carry their
    // label for attribute-filtered serving; the refine count is build
    // config, so it keys the version the same way
    val verDir = graft.io.Artifacts.version(spark, "ivf", dir, "embeddings.parquet",
        s"pq3|refine=$refine") { tmp =>
      val e = vectors(spark, dir)
      // coarse quantizer: label means, then `refine` Lloyd passes — each
      // pass is one distributed reassign + recompute with the |lists|×dims
      // centroid table collected between passes (tiny), keeping every
      // pass's plan shallow and its centroid broadcast explicit
      val cents = (1 to refine).foldLeft(trainQuantizer(e)) { (c, _) =>
        val cDf = c.toDF("label", "cv")
          .select(col("label"), col("cv").cast("array<double>").as("cv"))
        refineCentroids(e, cDf).collect()
          .map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq.sortBy(_._1)
      }
      val assigned = listAssignments(spark, e, cents)
        .withColumn("nrm", Vec.norm(col("v"))) // norms once, AT INDEX TIME
      // PQ sub-codes persist BESIDE each vector (encoded once, at index
      // time, from the same quantizer): ADC serving reads only the code
      // columns — column pruning keeps the wide `v` out of the candidate
      // scan entirely
      // r18: codes come from the native PqCodesExpr kernel (ONE eval for
      // all sub-codes; spec-pinned byte-identical to the pqCodeCols
      // Column oracle, which stays the spec/curve form) — the generated
      // per-subspace argmin trees were ~1.3 s of the cold build's JIT
      assigned
        .withColumn("graft_pq", graft.functions.PqKernels.pqCodesCol(
          col("v"), cents, PqSubspaces))
        .select(assigned.columns.toIndexedSeq.map(col) ++
          (0 until PqSubspaces).map(m => col("graft_pq")(m).as(s"code_$m")): _*)
        .repartition(col("list_id"))           // one file per list directory
        .write.mode("overwrite").partitionBy("list_id").parquet(s"$tmp/lists")
      cents.toDF("list_id", "cv").write.mode("overwrite").parquet(s"$tmp/centroids")
    }
    val listsPath = s"$verDir/lists"
    val cents = spark.read.parquet(s"$verDir/centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq.sortBy(_._1)
    (listsPath, cents)
  }

  /** The persisted inverted lists, partition column restored to int
    * (partition values are type-inferred on read). */
  def ivfLists(spark: SparkSession, listsPath: String): DataFrame =
    spark.read.parquet(listsPath)
      .withColumn("list_id", col("list_id").cast("int"))

  /** F6b: ANN-gated exact near-dup — the 100-TB shape for F6: candidates
    * come from the IVF coarse quantizer's inverted lists (pairs only ever
    * meet inside a list, so the join key is the list id and pair counts
    * are bounded by list population — with a trained quantizer, k lists
    * of n/k docs), then the exact cosine re-score keeps only true
    * near-dups. The gating is deterministic arithmetic end-to-end, so the
    * oracle verifies the WHOLE pipeline exactly — recall vs the unblocked
    * pass is a measured property (see SimilaritySpec), not a correctness
    * gamble: on this corpus qualifying pairs sit at cos 0.35–0.51 (the
    * tail of a near-random distribution), where ANY bucketing scheme
    * trades recall; the exact op (F6) stays available and fast. */
  def neardupIvfGated(spark: SparkSession, dir: String, threshold: Double = 0.35): DataFrame = {
    val (listsPath, _) = ivfIndex(spark, dir)
    val assigned = ivfLists(spark, listsPath) // norms precomputed at index time
    val a = assigned.select(col("vec_id").as("id1"), col("list_id"), col("v").as("v1"), col("nrm").as("n1"))
    val b = assigned.select(col("vec_id").as("id2"), col("list_id"), col("v").as("v2"), col("nrm").as("n2"))
    a.join(b, Seq("list_id"))
      .filter(col("id1") < col("id2"))
      .withColumn("cos", round(Vec.dot(col("v1"), col("v2")) / (col("n1") * col("n2")), 4))
      .filter(col("cos") >= threshold)
      .select(col("id1"), col("id2"), col("list_id").cast("long").as("list_id"), col("cos"))
      .orderBy(col("id1"), col("id2"))
  }

  /** SemDeDup keep/drop verdicts over a clustered, centroid-scored corpus
    * `(vec_id, list_id, v, nrm, csim)` — the testable core of [[semDedup]].
    *
    * Abbas et al. 2023 ("SemDeDup: Data-efficient learning at web-scale
    * through semantic deduplication") one-pass rule: within a cluster,
    * a document is DROPPED iff some other member is a semantic duplicate
    * (cosine ≥ threshold) with a LOWER similarity to the cluster centroid
    * — the survivor of each duplicate group is its most "outlying" member,
    * which the paper shows preserves diversity better than keeping the
    * most central one. Ties on (rounded) centroid similarity break to the
    * smaller vec_id. Deliberately ONE-PASS, as published: dominance is
    * evaluated against the pre-removal cluster, so a chain A~B~C with
    * descending priority drops BOTH B and C even though B (C's dominator)
    * is itself dropped — removal is monotone in the threshold and needs
    * no iterative fixpoint.
    *
    * Scale: one self-join on `list_id` (pair volume bounded by list
    * population, the neardupIvfGated argument) feeding a semi-join-shaped
    * distinct; no global sort, no driver state. */
  def semDedupVerdicts(e: DataFrame, threshold: Double): DataFrame = {
    val a = e.select(col("vec_id").as("id"), col("list_id"),
      col("v").as("va"), col("nrm").as("na"), col("csim").as("ca"))
    val b = e.select(col("vec_id").as("id2"), col("list_id"),
      col("v").as("vb"), col("nrm").as("nb"), col("csim").as("cb"))
    val dominated = a.join(b, Seq("list_id"))
      .filter(col("id") =!= col("id2"))
      .withColumn("cos", round(Vec.dot(col("va"), col("vb")) / (col("na") * col("nb")), 4))
      .filter(col("cos") >= threshold &&
        (col("cb") < col("ca") || (col("cb") === col("ca") && col("id2") < col("id"))))
      .select(col("id").as("vec_id")).distinct()
      .withColumn("rm", lit(true))
    e.join(dominated, Seq("vec_id"), "left")
      .select(col("vec_id"), col("list_id").cast("long").as("list_id"),
        col("csim"), col("rm").isNull.as("kept"))
      .orderBy(col("vec_id"))
  }

  /** F41: SemDeDup — SEMANTIC dedup of an embedded corpus (Abbas et al.
    * 2023): k-means clusters bound the candidate pairs, then each
    * cluster keeps one representative per cosine-duplicate group (the
    * member FARTHEST from the centroid; see [[semDedupVerdicts]] for the
    * published one-pass rule). Complements the lexical family — MinHash/
    * SimHash/winnow catch near-identical TEXT, SemDeDup catches
    * same-MEANING rewrites that share no surface n-grams.
    *
    * Served entirely from the persisted IVF layout: the inverted lists
    * ARE the clusters (quantizer reuse, no second k-means), `nrm` was
    * written at index time, and the centroid-similarity score joins
    * against the tiny broadcast centroid table. At 100 TB the pair stage
    * reads each list partition once and never shuffles a vector twice. */
  /** The clustered, centroid-scored corpus frame (vec_id, list_id, v,
    * nrm, csim) served from the PERSISTED index — the shared input of
    * SemDeDup (F41) and density pruning (F54): one partition-pruned list
    * read joined against the tiny broadcast centroid table. */
  def centroidScored(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (listsPath, cents) = ivfIndex(spark, dir)
    val centsDf = cents.toDF("list_id", "cv")
      .select(col("list_id"), col("cv").cast("array<double>").as("cv"))
      .withColumn("cnrm", Vec.norm(col("cv")))
    ivfLists(spark, listsPath)
      .join(broadcast(centsDf), Seq("list_id"))
      .withColumn("csim", round(Vec.dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")), 4))
      .select(col("vec_id"), col("list_id"), col("v"), col("nrm"), col("csim"))
  }

  def semDedup(spark: SparkSession, dir: String, threshold: Double = 0.4): DataFrame =
    semDedupVerdicts(centroidScored(spark, dir), threshold)

  /** D36: embedding-distribution drift monitor — the ML-ops counterpart
    * of the scalar PSI drift (D30): when the upstream embedding model or
    * the content mix changes, every downstream ANN/dedup decision built
    * on the old geometry silently degrades, so the monitor compares the
    * CURRENT batch (vec_id % 5 = 0, the dedup_incremental split
    * convention) against the reference corpus per label: per-dimension
    * means of both splits from ONE conditional-agg pass over a single
    * posexplode (never two corpus scans), then the rounded cosine
    * between the two centroids; a label drifts when its centroids'
    * agreement falls under the bar (compared on the ROUNDED value — the
    * engine-portable-verdict convention).
    *
    * Scale shape: one explode → one (label, pos) hash agg (map-side
    * partial over ≤ |labels|·dims cells) → one |labels|-row join. The
    * report is dimension-bounded regardless of corpus size. */
  def embeddingDrift(spark: SparkSession, dir: String, bar: Double = LoadOps.DriftBar): DataFrame =
    embeddingDriftOf(vectors(spark, dir), bar)

  /** The D36 compute over any (vec_id, label, v) frame — specs plant
    * rotated/identical current splits with known verdicts. */
  def embeddingDriftOf(vecs: DataFrame, bar: Double): DataFrame = {
    val e = vecs.withColumn("is_cur", col("vec_id") % 5 === 0)
    val byDim = e
      .select(col("label"), col("is_cur"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(avg(when(!col("is_cur"), col("x"))).as("rc"),
        avg(when(col("is_cur"), col("x"))).as("cc"))
    val counts = e.groupBy(col("label"))
      .agg(sum(when(!col("is_cur"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("is_cur"), 1L).otherwise(0L)).as("n_cur"))
    driftReport(byDim, counts, bar)
  }

  /** The D36 report assembly over a (label, pos, rc, cc) per-dimension
    * means frame and a (label, n_ref, n_cur) counts frame — shared with
    * the G18 streaming form, whose means come from accumulated
    * (sum, count) state instead of one batch aggregation. */
  def driftReport(byDim: DataFrame, counts: DataFrame, bar: Double): DataFrame = {
    val cent = byDim.groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("rc"), col("cc")))),
          s => s.getField("rc")).as("ref_cv"),
        transform(array_sort(collect_list(struct(col("pos"), col("rc"), col("cc")))),
          s => s.getField("cc")).as("cur_cv"))
    // no verdict without BOTH splits: a label the current batch (or the
    // reference) hasn't populated yet has no second centroid to compare
    // — emitting it would divide by an empty norm (the G18 stream hits
    // this mid-feed; the full corpus always has both splits)
    counts.filter(col("n_ref") > 0 && col("n_cur") > 0)
      .join(cent, Seq("label"))
      .withColumn("centroid_cos", round(
        Vec.dot(col("ref_cv"), col("cur_cv")) /
          (Vec.norm(col("ref_cv")) * Vec.norm(col("cur_cv"))), 4))
      .select(col("label").cast("long").as("label"), col("n_ref"), col("n_cur"),
        col("centroid_cos"), (col("centroid_cos") < bar).as("drifted"))
      .orderBy(col("label"))
  }

  /** F94: HARD TRIPLET MINING — the training-data op behind every
    * contrastive/metric-learning fine-tune (FaceNet's batch-hard rule
    * at corpus scale): per anchor, the HARDEST positive (least-similar
    * same-label candidate — the pair the model must still pull
    * together) and the HARDEST negative (most-similar different-label
    * candidate — the pair it must push apart), plus the margin-
    * violation flag that says whether the triplet carries gradient at
    * all. F38 mines negatives for retrieval pairs; this emits the full
    * (anchor, positive, negative) triplet with both hardness scores.
    *
    * Determinism contract: candidates and cosines come from the
    * persisted IVF lists exactly as F63 (index-time norms, cosine
    * rounded 4); the hardest positive is min(struct(cos, id)) and the
    * hardest negative max(struct(cos, id)) — lexicographic total
    * orders both engines replay with ORDER BY/LIMIT picks; the margin
    * test compares the rounded cosines plus a 0.05 literal (identical
    * IEEE add on both sides). Anchors lacking a same-label or a
    * different-label candidate in their list drop (declared — the
    * batch-hard rule needs both).
    *
    * Scale shape: the F63 class — pairs only ever meet inside an IVF
    * list (list-bounded, never corpus²); the label join is one
    * exchange on vec_id; pos/neg are two hash aggs over the pinned
    * pair frame; report is anchors-sized. */
  def tripletMine(spark: SparkSession, dir: String,
      margin: Double = 0.05): DataFrame = {
    val (listsPath, _) = ivfIndex(spark, dir)
    val labels = vectors(spark, dir).select(col("vec_id"), col("label"))
    val l = ivfLists(spark, listsPath)
      .select(col("vec_id"), col("list_id"), col("v"), col("nrm"))
      .join(labels, Seq("vec_id"))
    val a = l.select(col("vec_id"), col("list_id"), col("label"),
      col("v").as("va"), col("nrm").as("na"))
    val b = l.select(col("vec_id").as("nbr_id"), col("list_id"),
      col("label").as("nlabel"), col("v").as("vb"), col("nrm").as("nb"))
    val pairs = a.join(b, Seq("list_id")).filter(col("vec_id") =!= col("nbr_id"))
      .withColumn("cos",
        round(Vec.dot(col("va"), col("vb")) / (col("na") * col("nb")), 4))
      .select(col("vec_id"), col("list_id"), col("label"),
        col("nbr_id"), col("nlabel"), col("cos"))
      .localCheckpoint(true) // the pos and neg aggs both reread it
    val pos = pairs.filter(col("label") === col("nlabel"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("cos"), col("nbr_id"))).as("p"))
      .select(col("vec_id"), col("p.nbr_id").as("pos_id"),
        col("p.cos").as("pos_cos"))
    val neg = pairs.filter(col("label") =!= col("nlabel"))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cos"), col("nbr_id"))).as("g"))
      .select(col("vec_id"), col("g.nbr_id").as("neg_id"),
        col("g.cos").as("neg_cos"))
    pairs.select(col("vec_id"), col("label"), col("list_id")).distinct()
      .join(pos, Seq("vec_id"))
      .join(neg, Seq("vec_id"))
      .withColumn("violation",
        (col("neg_cos") + lit(margin) > col("pos_cos")).cast("int"))
      .select(col("vec_id"), col("label"), col("list_id").cast("long").as("list_id"),
        col("pos_id"), col("pos_cos"), col("neg_id"), col("neg_cos"),
        col("violation"))
      .orderBy(col("vec_id"))
  }

  /** F63: k-NN GRAPH construction — each vector's top-k nearest
    * neighbors as a materialized dataset (the input artifact of
    * graph-based dedup refinement, cluster smoothing, and label
    * propagation; SemDeDup F41 consumes pairwise verdicts, this keeps
    * the ranked neighborhood itself). Candidates come from the persisted
    * IVF lists — neighbors only ever meet inside a list, so pair volume
    * is list-bounded and the per-vector rank is a cluster-bounded
    * window; the standard blocked-kNN shape at any corpus size. */
  def knnGraph(spark: SparkSession, dir: String, kNbrs: Int = 3): DataFrame = {
    val (listsPath, _) = ivfIndex(spark, dir)
    val l = ivfLists(spark, listsPath)
      .select(col("vec_id"), col("list_id"), col("v"), col("nrm"))
    val a = l.select(col("vec_id"), col("list_id"),
      col("v").as("va"), col("nrm").as("na"))
    val b = l.select(col("vec_id").as("nbr_id"), col("list_id"),
      col("v").as("vb"), col("nrm").as("nb"))
    val wnd = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("nbr_id"))
    a.join(b, Seq("list_id")).filter(col("vec_id") =!= col("nbr_id"))
      .withColumn("cos", round(Vec.dot(col("va"), col("vb")) / (col("na") * col("nb")), 4))
      .withColumn("rank", row_number().over(wnd))
      .filter(col("rank") <= kNbrs)
      .select(col("vec_id"), col("rank").cast("long").as("rank"),
        col("nbr_id"), col("list_id").cast("long").as("list_id"), col("cos"))
      .orderBy(col("vec_id"), col("rank"))
  }

  /** F79: ANN RECALL report — the quality number every approximate
    * index owes its operator and the specs previously kept to
    * themselves, as a first-class query: for a deterministic FIXED-SIZE
    * probe set (the `nProbes` vectors ranking first by md5(vec_id) — a
    * seedless uniform draw both engines replay exactly), the IVF nprobe
    * top-k is scored against the brute-force ground truth, per query —
    * recall@k in exact PPM. The per-query rows (not just a mean)
    * localize WHICH queries the probed lists fail, which is the signal
    * that tunes nprobe / refinement.
    *
    * Scale shape: the truth pass is |queries| × corpus with |queries| =
    * nProbes, a CONSTANT independent of corpus size (at 100 TB you
    * measure recall on a fixed sample, never a fixed fraction — a
    * fractional probe set makes the truth pass quadratic); the probe
    * pick itself is one TakeOrdered over the hash column, O(corpus),
    * no shuffle. The ANN pass re-reads the persisted lists with an
    * IN-list partition filter covering all probed lists. Both sides
    * rank per query with bounded windows. */
  def annRecall(spark: SparkSession, dir: String, k: Int = 10,
      nprobe: Int = -1, nProbes: Int = 10): DataFrame = {
    val np = if (nprobe > 0) nprobe else defaultNprobe(spark)
    import org.apache.spark.sql.expressions.Window
    val (listsPath, cents) = ivfIndex(spark, dir)
    val e = vectors(spark, dir).select(col("vec_id"), col("v"))
    val q = e.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(nProbes)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
      .localCheckpoint(true)
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("vec_id"))
    // ground truth: brute top-k over the whole corpus per probe
    val truth = e.crossJoin(q).filter(col("vec_id") =!= col("qid"))
      .withColumn("score", round(Vec.cosine(col("v"), col("qv")), 4))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= k)
      .select(col("qid"), col("vec_id"))
    // ANN: nprobe nearest lists per query (quantizer is driver-sized),
    // then top-k within the probed lists from the persisted layout
    val spark2 = spark
    import spark2.implicits._
    val centsDf = cents.toDF("c_label", "cv")
      .select(col("c_label"), col("cv").cast("array<double>").as("cv"))
    val probes = q.crossJoin(broadcast(centsDf))
      .withColumn("csim", Vec.cosine(col("qv"), col("cv")))
      .withColumn("rn", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("csim").desc, col("c_label"))))
      .filter(col("rn") <= np)
      .select(col("qid"), col("qv"), col("c_label").as("list_id"))
    val ann = ivfLists(spark, listsPath)
      .join(probes, Seq("list_id"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("score", round(Vec.cosine(col("v"), col("qv")), 4))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= k)
      .select(col("qid"), col("vec_id"))
    val hits = truth.join(ann, Seq("qid", "vec_id"), "left_semi")
      .groupBy(col("qid")).agg(count(lit(1)).as("n_hits"))
    q.select(col("qid"))
      .join(hits, Seq("qid"), "left")
      .na.fill(0L, Seq("n_hits"))
      .select(col("qid"), col("n_hits"),
        expr(s"n_hits * 1000000 div $k").as("recall_ppm"))
      .orderBy(col("qid"))
  }

  /** F79b: the ANN RECALL TUNING CURVE — F79 measured recall at ONE
    * nprobe (0.55 mean at nprobe=3; the shipped default is 5 since the
    * r16 policy change — see [[defaultNprobe]]); the number an operator
    * actually needs is the KNOB-vs-recall curve, so the "raise nprobe
    * until recall clears the bar" decision is itself an oracle-gated
    * report instead of a spec aside. One row per (nprobe ∈ {1,2,3,5,8},
    * probe query): hits against the SAME brute-force ground truth and
    * the same fixed md5-top-N probe set as F79.
    *
    * Scale shape: the expensive passes are SHARED across the sweep —
    * the truth pass (|queries| × corpus, constant |queries|) and the
    * candidate fetch (ONE read of the persisted lists with an IN-list
    * partition filter at max(nprobe), each candidate row carrying its
    * list's centroid rank) run once; each sweep point is then a
    * rank-window + semi-join over the list-bounded candidate frame.
    * Sweep cost grows with Σ|candidates|, not with corpus reads. */
  def annRecallCurve(spark: SparkSession, dir: String, k: Int = 10,
      sweep: Seq[Int] = Seq(1, 2, 3, 5, 8), nProbes: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (listsPath, cents) = ivfIndex(spark, dir)
    val e = vectors(spark, dir).select(col("vec_id"), col("v"))
    val q = e.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(nProbes)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
      .localCheckpoint(true)
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("vec_id"))
    val truth = e.crossJoin(q).filter(col("vec_id") =!= col("qid"))
      .withColumn("score", round(Vec.cosine(col("v"), col("qv")), 4))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= k)
      .select(col("qid"), col("vec_id"))
      .localCheckpoint(true)
    val spark2 = spark
    import spark2.implicits._
    val centsDf = cents.toDF("c_label", "cv")
      .select(col("c_label"), col("cv").cast("array<double>").as("cv"))
    // every probed list up to the largest sweep point, tagged with its
    // centroid rank so each sweep point is a pure filter
    val probes = q.crossJoin(broadcast(centsDf))
      .withColumn("csim", Vec.cosine(col("qv"), col("cv")))
      .withColumn("crn", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("csim").desc, col("c_label"))))
      .filter(col("crn") <= sweep.max)
      .select(col("qid"), col("qv"), col("crn"),
        col("c_label").as("list_id"))
    val cand = ivfLists(spark, listsPath)
      .join(probes, Seq("list_id"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("score", round(Vec.cosine(col("v"), col("qv")), 4))
      .select(col("qid"), col("crn"), col("vec_id"), col("score"))
      .localCheckpoint(true)
    sweep.map { p =>
      val ann = cand.filter(col("crn") <= p)
        .withColumn("rn", row_number().over(wq))
        .filter(col("rn") <= k)
        .select(col("qid"), col("vec_id"))
      val hits = truth.join(ann, Seq("qid", "vec_id"), "left_semi")
        .groupBy(col("qid")).agg(count(lit(1)).as("n_hits"))
      q.select(col("qid"))
        .join(hits, Seq("qid"), "left")
        .na.fill(0L, Seq("n_hits"))
        .select(lit(p).cast("int").as("nprobe"), col("qid"), col("n_hits"),
          expr(s"n_hits * 1000000 div $k").as("recall_ppm"))
    }.reduce(_.unionByName(_)).orderBy(col("nprobe"), col("qid"))
  }

  /** F29b: the PQ SUB-CODE TUNING CURVE — the compression knob's
    * recall cost, measured the way F29 serving actually pays it: per
    * (nSub ∈ {4,8,16} subspaces, probe query), how many of the exact
    * cosine top-k survive into the pure-ADC candidate heap of size
    * rescoreFactor·k (the stage the F29 rescore can NEVER recover a
    * loss from). 8 sub-codes is the persisted F29 layout (32× under
    * f32); 4 halves the code bytes again, 16 doubles them — this report
    * is the pre-persist design tool for that trade.
    *
    * Determinism: codes are exact argmins with first-codeword ties (the
    * [[pqCodeCols]] contract); each ADC distance rounds to 6 dp before
    * the rank with the vec_id tiebreak (the F29 margins argument —
    * argmin/boundary gaps dwarf cross-engine summation noise); truth is
    * the F79 4-dp cosine rank. Probe set = the constant md5-top-N draw.
    *
    * Scale shape: the truth pass is |probes|×corpus (constant probes);
    * each sweep point is ONE corpus encode pass (vec_id + nSub one-byte
    * codes — at 100 TB this is exactly the layout job [[ivfIndex]] runs
    * once for the chosen nSub, previewed here before persisting) plus
    * |probes| bounded ADC heaps over the checkpointed codes; the ADC
    * tables are driver math on the collected quantizer. */
  def annPqCurve(spark: SparkSession, dir: String, k: Int = 10,
      rescoreFactor: Int = 3, sweep: Seq[Int] = Seq(4, 8, 16),
      nProbes: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (_, cb) = ivfIndex(spark, dir)
    val dim = cb.head._2.length
    val e = vectors(spark, dir).select(col("vec_id"), col("v"))
    val q = e.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(nProbes)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
      .localCheckpoint(true)
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("vec_id"))
    val truth = e.crossJoin(q).filter(col("vec_id") =!= col("qid"))
      .withColumn("score", round(Vec.cosine(col("v"), col("qv")), 4))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= k)
      .select(col("qid"), col("vec_id"))
      .localCheckpoint(true)
    val qRows = q.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    val sorted = cb.sortBy(_._1)
    sweep.map { nSub =>
      val sd = dim / nSub
      def subOf(a: Seq[Double], m: Int): Seq[Double] = a.slice(m * sd, (m + 1) * sd)
      val enc = e.select(col("vec_id") +: pqCodeCols(cb, nSub): _*)
        .localCheckpoint(true)
      val found = qRows.map { case (qid, qv) =>
        // the F29 ADC table: ‖q_m − c_{l,m}‖² per (subspace, codeword),
        // driver math on the collected quantizer
        val qd2 = Array.tabulate(nSub) { m =>
          sorted.map { case (_, cv) =>
            subOf(qv, m).zip(subOf(cv, m))
              .foldLeft(0.0) { case (acc, (a, b)) => acc + (a - b) * (a - b) }
          }.toArray
        }
        val approx = (0 until nSub).map { m =>
          element_at(array(qd2(m).map(lit).toIndexedSeq: _*), col(s"code_$m") + 1)
        }.reduce(_ + _)
        enc.filter(col("vec_id") =!= qid)
          .withColumn("approx_dist", round(approx, 6))
          .orderBy(col("approx_dist"), col("vec_id")).limit(rescoreFactor * k)
          .select(lit(qid).as("qid"), col("vec_id"))
      }.reduce(_.unionByName(_))
      val hits = truth.join(found, Seq("qid", "vec_id"), "left_semi")
        .groupBy(col("qid")).agg(count(lit(1)).as("n_hits"))
      q.select(col("qid"))
        .join(hits, Seq("qid"), "left")
        .na.fill(0L, Seq("n_hits"))
        .select(lit(nSub).cast("int").as("nsub"), col("qid"), col("n_hits"),
          expr(s"n_hits * 1000000 div $k").as("recall_ppm"))
    }.reduce(_.unionByName(_)).orderBy(col("nsub"), col("qid"))
  }

  /** F77: Local Outlier Factor over the list-blocked kNN graph — the
    * embedding-space DATA-QUALITY gate (Breunig et al.): a vector whose
    * local density is far below its neighbors' is a mislabeled,
    * corrupted or out-of-distribution row, exactly what a curation
    * pipeline wants flagged BEFORE the embedding feeds dedup or
    * sampling. Served from the SAME F63 neighborhoods (the persisted
    * IVF layout), so the outlier verdict and the ANN serving read one
    * index.
    *
    * Exact integer contract: distances are the 4-dec rounded cosines
    * as 1e-4 integers (`10000 − round(cos·1e4)`); k-distance,
    * reachability (max(kdist(b), d(a,b))), local reachability density
    * (m·1e6 div Σreach) and the LOF ratio (Σlrd(b)·1e6 div (m·lrd(a)))
    * are pure integer arithmetic — both engines replay bit-for-bit.
    * Degenerate densities (identical vectors → Σreach = 0) clamp via
    * greatest(·, 1) on both sides.
    *
    * Scale shape: everything derives from the k·n-row kNN frame — two
    * hash joins back onto itself (kdist of neighbors, lrd of
    * neighbors), no new pairwise stage; the expensive part (the ranked
    * neighborhoods) is the already-bounded F63 within-list join. */
  def embLof(spark: SparkSession, dir: String, kNbrs: Int = 5,
      outlierBarPpm: Long = 1300000L): DataFrame =
    lofFromKnn(
      knnGraph(spark, dir, kNbrs)
        .withColumn("d", expr("10000 - cast(round(cos * 10000) as long)"))
        .select(col("vec_id"), col("nbr_id"), col("d")),
      outlierBarPpm)

  /** The F77 chain over an explicit (vec_id, nbr_id, d) kNN frame — the
    * spec plants a dense cluster with one sparse satellite and asserts
    * the flag fires exactly there. */
  def lofFromKnn(knn0: DataFrame, outlierBarPpm: Long): DataFrame = {
    val knn = knn0.localCheckpoint(true)
    val kd = knn.groupBy(col("vec_id"))
      .agg(max(col("d")).as("kdist"), count(lit(1)).as("m"))
      .localCheckpoint(true)
    val reach = knn
      .join(kd.select(col("vec_id").as("nbr_id"), col("kdist").as("nb_kdist")),
        Seq("nbr_id"))
      .select(col("vec_id"), greatest(col("nb_kdist"), col("d")).as("reach"))
    val lrd = reach.groupBy(col("vec_id")).agg(sum(col("reach")).as("sreach"))
      .join(kd, Seq("vec_id"))
      .select(col("vec_id"),
        expr("m * 1000000 div greatest(sreach, 1)").as("lrd"))
      .localCheckpoint(true)
    val lof = knn
      .join(lrd.select(col("vec_id").as("nbr_id"), col("lrd").as("nb_lrd")),
        Seq("nbr_id"))
      .groupBy(col("vec_id")).agg(sum(col("nb_lrd")).as("s_lrd"))
      .join(lrd, Seq("vec_id")).join(kd, Seq("vec_id"))
      .select(col("vec_id"),
        expr("s_lrd * 1000000 div (m * greatest(lrd, 1))").as("lof"))
    kd.join(lrd, Seq("vec_id")).join(lof, Seq("vec_id"))
      .select(col("vec_id"), col("m"), col("kdist"),
        col("lrd").as("lrd_ppm"), col("lof").as("lof_ppm"),
        (col("lof") > outlierBarPpm).cast("int").as("outlier"))
      .orderBy(col("vec_id"))
  }

  /** F57: top principal component of the embedding cloud by POWER
    * ITERATION — the engine's spectral primitive: PC1 is the
    * dimension-reduction / whitening axis every embedding pipeline
    * inspects first (energy concentration says whether Matryoshka
    * truncation F43 / PQ subspaces F29 are safe), and the power method
    * is the distributed-friendly way to get it: the 100 TB part is ONE
    * pass building the d×d covariance; the iteration is dims-bounded
    * driver work (the trainQuantizer collect convention).
    *
    * Determinism contract (the oracle replays every step): covariance
    * cells round to 6 decimals BEFORE iterating; v0 = 1/√d exactly;
    * exactly `iters` steps of w = C·v, λ = ‖w‖, v = w/‖w‖ (no
    * convergence test — both engines run the same recurrence); sign
    * fixed by the largest-|loading| coordinate; outputs round to 4.
    *
    * Scale shape: the covariance pass is `mapPartitions` accumulating a
    * partition-local d² Gram array (a declared imperative-kernel
    * exception, the Misra-Gries pass-1 pattern) — only |partitions|·d²
    * cells ever shuffle, NOT n·d² exploded pairs; means come from one
    * posexplode agg (n·d rows, map-side combined). */
  def embPcaPower(spark: SparkSession, dir: String, iters: Int = 20): DataFrame =
    embPcaPowerOf(vectors(spark, dir), iters)

  /** The F57 compute over any frame with a `v: array<double>` column —
    * specs plant clouds with a known dominant axis. */
  private def round6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  private def round4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The F57/F67 shared distributed covariance: ONE mapPartitions Gram
    * pass (|partitions|·d² cells shuffle, never n·d² exploded pairs),
    * cells rounded to 6 decimals — the engine/oracle parity contract. */
  private def covOf(e: DataFrame): Array[Array[Double]] = {
    val spark = e.sparkSession
    import spark.implicits._
    val stats = e.select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("pos")).agg(avg(col("x")).as("m"), count(lit(1)).as("cnt"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getLong(2))).sortBy(_._1)
    val mean = stats.map(_._2)
    val n = stats.head._3
    val d = mean.length
    val centered = e.select(
      zip_with(col("v"), typedLit(mean.toSeq), (a, b) => a - b).as("vc"))
    val partials = centered.as[Seq[Double]].mapPartitions { it =>
      val acc = Array.fill(d * d)(0.0)
      var any = false
      it.foreach { v =>
        any = true
        var i = 0
        while (i < d) {
          val xi = v(i); var j = 0
          while (j < d) { acc(i * d + j) += xi * v(j); j += 1 }
          i += 1
        }
      }
      if (any) Iterator.single(acc.toSeq) else Iterator.empty
    }
    val cells = partials.select(posexplode(col("value")).as(Seq("k", "x")))
      .groupBy(col("k")).agg(sum(col("x")).as("s"))
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toMap
    Array.tabulate(d, d)((i, j) => round6(cells(i * d + j) / n))
  }

  /** The F57 recurrence: exactly `iters` steps of w = C·v, λ = ‖w‖,
    * v = w/‖w‖ from v0 = 1/√d, sign fixed by the largest-|loading|
    * coordinate (lowest pos tie), outputs rounded to 4. */
  private def powerIterate(c: Array[Array[Double]], iters: Int)
      : (Array[Double], Double) = {
    val d = c.length
    var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
    var lambda = 0.0
    for (_ <- 1 to iters) {
      val w = Array.tabulate(d) { i =>
        var s = 0.0; var j = 0
        while (j < d) { s += c(i)(j) * v(j); j += 1 }; s
      }
      lambda = math.sqrt(w.map(x => x * x).sum)
      v = w.map(_ / lambda)
    }
    val idx = v.indices.maxBy(p => (math.abs(v(p)), -p))
    val sgn = if (v(idx) < 0) -1.0 else 1.0
    (v.map(x => round4(sgn * x)), round4(lambda))
  }

  def embPcaPowerOf(e: DataFrame, iters: Int): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val (v1, lam1) = powerIterate(covOf(e), iters)
    v1.indices.map(p => (p.toLong, v1(p), lam1))
      .toDF("pos", "pc1_loading", "eigenvalue")
      .orderBy(col("pos"))
  }

  /** F67: TOP-2 principal components by power iteration + DEFLATION —
    * the step from "inspect the dominant axis" (F57) to an actual
    * spectral BASIS: PC2 comes from 20 more power steps on the deflated
    * matrix C₂ = C − λ₁·v₁v₁ᵀ, where the deflation uses the PUBLISHED
    * (4-dec rounded, sign-fixed) v₁ and λ₁ and C₂ cells round back to 6
    * decimals — every number the recurrence touches is replayable, so
    * the oracle unrolls BOTH 20-step chains plus the deflation in SQL.
    * Output per dimension: both loadings + both eigenvalues (the
    * energy-spectrum evidence Matryoshka/PQ decisions read).
    *
    * Scale shape: identical to F57 — the corpus cost is the ONE
    * mapPartitions covariance pass (shared [[covOf]]); deflation and
    * both iterations are d²-bounded driver work (the quantizer-collect
    * convention). At 100 TB the second component is free once the Gram
    * pass has run. */
  def embPcaTop2(spark: SparkSession, dir: String, iters: Int = 20): DataFrame =
    embPcaTop2Of(vectors(spark, dir), iters)

  /** The F67 compute over any (…, v: array<double>) frame — specs plant
    * clouds with two known orthogonal axes. */
  def embPcaTop2Of(e: DataFrame, iters: Int): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val c = covOf(e)
    val d = c.length
    val (v1, lam1) = powerIterate(c, iters)
    val c2 = Array.tabulate(d, d)((i, j) => round6(c(i)(j) - lam1 * v1(i) * v1(j)))
    val (v2, lam2) = powerIterate(c2, iters)
    v1.indices.map(p => (p.toLong, v1(p), v2(p), lam1, lam2))
      .toDF("pos", "pc1_loading", "pc2_loading", "eigenvalue1", "eigenvalue2")
      .orderBy(col("pos"))
  }

  /** F59: "all-but-the-top" embedding post-processing (Mu & Viswanath
    * 2018): subtract the corpus mean and remove the projection onto the
    * top principal component — isotropy correction that measurably
    * improves similarity search on real embedding models (the dominant
    * direction is usually frequency-correlated noise). Composes the F57
    * spectral primitive as its fit step: FIT once (one covariance pass +
    * dims-bounded driver iteration), APPLY as one broadcast-free per-row
    * map over the corpus (the loadings ride as a literal array — no
    * join, no shuffle).
    *
    * Determinism: the applied loadings are F57's ROUNDED (4-dec) output
    * — exactly what the oracle recomputes — and all per-row outputs
    * round to 4; report = per-vector projection + norm before/after
    * (the isotropy evidence: norms shrink by the removed energy). */
  def embAllButTop(spark: SparkSession, dir: String): DataFrame = {
    val e = vectors(spark, dir)
    val pc = embPcaPowerOf(e, 20).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).map(_._2)
    val mean = e.select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("pos")).agg(avg(col("x")).as("m"))
      .collect().map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1).map(_._2)
    val pcCol = typedLit(pc.toSeq)
    e.select(col("vec_id"),
        zip_with(col("v"), typedLit(mean.toSeq), (a, b) => a - b).as("vc"))
      .withColumn("proj", Vec.dot(col("vc"), pcCol))
      .withColumn("vp", zip_with(col("vc"), pcCol, (a, b) => a - col("proj") * b))
      .select(col("vec_id"),
        round(col("proj"), 4).as("pc1_projection"),
        round(Vec.norm(col("vc")), 4).as("norm_before"),
        round(Vec.norm(col("vp")), 4).as("norm_after"))
      .orderBy(col("vec_id"))
  }

  /** F56: incremental IVF maintenance — APPEND new vectors to the
    * published index without retraining or rebuilding: the delta batch
    * assigns against the FROZEN persisted centroids (real IVF systems
    * freeze the coarse quantizer between rebuilds precisely so appends
    * are cheap) and lands as additional files inside matching `list_id=`
    * partition directories of a delta layout beside the base — the
    * merge-on-read shape (D26): serving reads base ∪ delta with the same
    * partition pruning, and a compaction (D14) folds the delta in later.
    *
    * The registered query is the delta-assignment report; the physical
    * append + union serving is spec-pinned (delta vectors are found by
    * probes over the merged lists). The delta batch is synthesized
    * deterministically — reversed embeddings under shifted ids — so the
    * oracle replays assignment in closed form.
    *
    * Scale shape: delta-sized work only — one broadcast of the tiny
    * centroid table, one hash agg over the delta, one partitioned
    * delta write. The base layout is never read, rewritten, or
    * re-encoded. */
  def ivfAppend(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (_, cents) = ivfIndex(spark, dir)
    val delta = vectors(spark, dir)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("label"),
        reverse(col("v")).as("v"))
    val assigned = listAssignments(spark, delta, cents)
      .withColumn("nrm", Vec.norm(col("v")))
    assigned
      .repartition(col("list_id"))
      .write.mode("overwrite").partitionBy("list_id")
      .parquet(graft.Tables.scratch(spark, "graft_ivf_delta/lists"))
    val centsDf = cents.toDF("list_id", "cv")
      .select(col("list_id"), col("cv").cast("array<double>").as("cv"))
      .withColumn("cnrm", Vec.norm(col("cv")))
    assigned.join(broadcast(centsDf), Seq("list_id"))
      .withColumn("csim",
        round(Vec.dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")), 4))
      .select(col("vec_id"), col("list_id").cast("long").as("list_id"), col("csim"))
      .orderBy(col("vec_id"))
  }

  /** F54: density-based data pruning (Sorscher et al. 2022, "Beyond
    * neural scaling laws" — the SSL-prototypes rule): within each
    * cluster, the examples CLOSEST to the centroid are the most
    * prototypical/redundant, so the prune drops the densest
    * `dropNum/dropDen` fraction per cluster and keeps the rest — unlike
    * SemDeDup (F41), which removes near-identical PAIRS wherever they
    * sit, this thins uniformly-dense regions on a per-cluster quota with
    * no pairwise stage at all.
    *
    * Rank = row_number over (csim DESC, vec_id) per cluster; kept ⇔
    * rank > floor(n·dropNum/dropDen) — all-integer boundary over the
    * ROUNDED (4-dec) centroid similarity, so the keep/drop verdict is
    * engine-portable (the ann_range convention).
    *
    * Scale shape: the ONLY stage beyond the F41-shared centroid-scored
    * read is one window per list_id — cluster-bounded state (the index
    * build balances list sizes; spread spec-pinned at build time), no
    * pair join, no corpus-wide window. At 100 TB: partition-pruned list
    * scan + per-list rank = the cheapest member of the whole
    * cluster-pruning family. */
  def densityPrune(spark: SparkSession, dir: String,
                   dropNum: Int = 1, dropDen: Int = 4): DataFrame = {
    val wp = Window.partitionBy(col("list_id"))
      .orderBy(col("csim").desc, col("vec_id"))
    centroidScored(spark, dir)
      .withColumn("density_rank", row_number().over(wp).cast("long"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("list_id"))).cast("long"))
      .select(col("vec_id"), col("list_id").cast("long").as("list_id"),
        col("csim"), col("density_rank"), col("cluster_size"),
        (col("density_rank") >
          expr(s"(cluster_size * $dropNum) div $dropDen")).as("kept"))
      .orderBy(col("vec_id"))
  }

  /** F8d: BATCH IVF ANN — the production shape of F8b: N queries resolved
    * at once against the PERSISTED index, no per-query driver roundtrip.
    * Probe selection is a tiny (queries × lists) broadcast cross join
    * ranked per query; the candidate fetch is ONE relational join of the
    * probe pairs against the persisted inverted lists on `list_id` — the
    * layout's partition key, so at 100 TB each query's candidates come
    * from its nprobe partitions and the whole batch amortizes one scan.
    * Top-k per query = one partitioned window over candidates only.
    * Deterministic end-to-end ⇒ full oracle. */
  def ivfAnnBatch(spark: SparkSession, dir: String, k: Int = 5, nprobe: Int = 2,
      queryMod: Long = 100L): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val (listsPath, cents) = ivfIndex(spark, dir)
    val centsDf = cents.toDF("c_label", "cv")
      .select(col("c_label"), col("cv").cast("array<double>").as("cv"))
    val queries = vectors(spark, dir).filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        Vec.norm(col("v")).as("qnrm")) // query norm once, not per candidate
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(Vec.cosine(col("qv"), col("cv")).desc, col("c_label"))
    val probes = queries.crossJoin(broadcast(centsDf))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select(col("qid"), col("qv"), col("qnrm"), col("c_label").as("list_id"))
    val wTop = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("vec_id"))
    // candidate norms come from the index (nrm), query norms from above:
    // same arithmetic as Vec.cosine (dot / (sqrt·sqrt)), a third of the
    // per-candidate work on the op's hot path
    ivfLists(spark, listsPath)
      .join(probes, Seq("list_id"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("score",
        round(Vec.dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 4))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"),
        col("list_id").cast("long").as("list_id"), col("score"))
      .orderBy(col("qid"), col("rank"))
  }

  /** F8b: IVF (inverted-file) ANN — the other standard scale path.
    * Coarse quantizer: per-cluster centroids (mean, computed distributed
    * via posexplode + partial agg); each vector is assigned to its nearest
    * centroid (inverted lists); a query probes only the `nprobe` nearest
    * lists. At 100 TB the inverted list id is the partition key, so a
    * query touches nprobe partitions instead of the full corpus.
    * Probabilistic recall → rows-only gate + recall spec vs exact top-k. */
  def ivfAnn(spark: SparkSession, dir: String, queryId: Long = 0L, k: Int = 20,
      nprobe: Int = -1): DataFrame = {
    val np = if (nprobe > 0) nprobe else defaultNprobe(spark)
    val t = Tables(spark, dir)
    // Build-or-reuse the PERSISTED index: the quantizer comes back from
    // the layout (|lists| × dims — tiny), so probe selection costs no
    // cluster job and the assignment scan is NOT recomputed per query.
    val (listsPath, cents) = ivfIndex(spark, dir)
    val qv = t.embeddings.filter(col("vec_id") === queryId)
      .select(Vec.toDouble(col("embedding")).as("qv")).head().getSeq[Double](0)
    def dot(a: Seq[Double], b: Seq[Double]) = a.iterator.zip(b.iterator).map(p => p._1 * p._2).sum
    def cosLocal(a: Seq[Double], b: Seq[Double]) =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    // probe the nprobe nearest centroids' lists only (driver-side: 10 dots)
    val probes = cents.sortBy { case (l, cv) => (-cosLocal(qv, cv), l) }
      .take(np).map(_._1)
    val qvCol = array(qv.map(lit): _*)
    // the list_id filter prunes the scan to the probed directories
    ivfLists(spark, listsPath)
      .filter(col("list_id").isin(probes: _*) && col("vec_id") =!= queryId)
      .withColumn("score", round(Vec.cosine(col("v"), qvCol), 4))
      .select(col("vec_id"), col("list_id").cast("long").as("list_id"), col("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)
  }

  /** F51: RANGE (radius) search — every vector with cosine ≥ tau of the
    * query, IVF-pruned: dedup thresholds and "collect all sufficiently
    * similar" retrieval want a similarity BAR, not a fixed k (top-k
    * truncates dense neighborhoods and pads sparse ones). Same persisted-
    * index probe path as [[ivfAnn]] — the coarse quantizer picks nprobe
    * lists driver-side, the scan prunes to those partitions — but the
    * candidate filter is the threshold itself, applied to the ROUNDED
    * score (4 decimals) so the boundary decision is engine-portable.
    * Result size is data-dependent by design; at 100 TB the probed-list
    * bound still caps the scan exactly as in top-k serving. */
  def annRange(spark: SparkSession, dir: String, queryId: Long = 0L,
      tau: Double = 0.2, nprobe: Int = -1): DataFrame = {
    val np = if (nprobe > 0) nprobe else defaultNprobe(spark)
    val t = Tables(spark, dir)
    val (listsPath, cents) = ivfIndex(spark, dir)
    val qv = t.embeddings.filter(col("vec_id") === queryId)
      .select(Vec.toDouble(col("embedding")).as("qv")).head().getSeq[Double](0)
    def dot(a: Seq[Double], b: Seq[Double]) = a.iterator.zip(b.iterator).map(p => p._1 * p._2).sum
    def cosLocal(a: Seq[Double], b: Seq[Double]) =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    val probes = cents.sortBy { case (l, cv) => (-cosLocal(qv, cv), l) }
      .take(np).map(_._1)
    val qvCol = array(qv.map(lit): _*)
    ivfLists(spark, listsPath)
      .filter(col("list_id").isin(probes: _*) && col("vec_id") =!= queryId)
      .withColumn("score", round(Vec.cosine(col("v"), qvCol), 4))
      .filter(col("score") >= tau)
      .select(col("vec_id"), col("list_id").cast("long").as("list_id"), col("score"))
      .orderBy(col("score").desc, col("vec_id"))
  }

  /** The PQ sub-code expressions over a frame carrying `v` — exposed so
    * the index build can append codes to the persisted lists without a
    * join. code_m = argmin over the codebook of ‖v_m − c_{l,m}‖²
    * (subspace m = dims [m·d/nSub, (m+1)·d/nSub)). The squared-norm term
    * ‖v_m‖² is constant across codewords, so the argmin reduces to
    * ‖c_{l,m}‖² − 2⟨v_m, c_{l,m}⟩ — |codebook| native codegen'd dots per
    * subspace, no interpreted HOF folds. Ties take the first
    * (smallest-label) codeword via array_position. */
  def pqCodeCols(cb: Seq[(Int, Seq[Double])], nSub: Int): Seq[Column] = {
    val dim = cb.head._2.length
    require(dim % nSub == 0, s"dim $dim not divisible into $nSub subspaces")
    val sd = dim / nSub
    val sorted = cb.sortBy(_._1)
    (0 until nSub).map { m =>
      val dists = array(sorted.map { case (_, cv) =>
        val cw = cv.slice(m * sd, (m + 1) * sd)
        val bb = cw.foldLeft(0.0)((acc, x) => acc + x * x)
        lit(bb) - lit(2.0) * Vec.dot(slice(col("v"), m * sd + 1, sd),
          array(cw.map(lit): _*))
      }: _*)
      (array_position(dists, array_min(dists)) - 1L).cast("int").as(s"code_$m")
    }
  }

  /** PQ encode a (vec_id, v) frame: each vector → `nSub` sub-codes from
    * [[pqCodeCols]]. Used by the index build (codes persisted into the
    * lists) and by specs; serving paths read persisted codes instead. */
  def pqEncode(e: DataFrame, cb: Seq[(Int, Seq[Double])], nSub: Int): DataFrame =
    e.select(col("vec_id") +: pqCodeCols(cb, nSub): _*)

  /** F29: product-quantization ANN with asymmetric distance computation —
    * the PQ half of IVF-PQ, the ANN shape for when even int8 vectors
    * ([[embQuantize]]) are too large to scan per query. The corpus codes
    * are NOT computed here: they were encoded once, at index time, into
    * the persisted IVF layout ([[ivfIndex]] writes nSub one-byte sub-codes
    * beside every vector — 8 bytes per 64-dim vector, 32× under f32), and
    * this op reads them back ([[ivfLists]], code columns only). Unlike
    * F32 there is no probe filter — full-corpus ADC is the op's semantic
    * (the PQ half in isolation), so the scan touches every list partition
    * but only the 8 code bytes of each row. A query computes one tiny ADC
    * lookup table (nSub × |codebook| squared distances, driver-side from
    * the quantizer persisted with the layout) and approx dist =
    * Σ_m table[m][code_m], a bounded top-C heap (TakeOrderedAndProject).
    * The C survivors exact-rescore through one broadcast join back to the
    * layout's raw vectors. Codebook = the shared label-mean quantizer
    * ([[trainQuantizer]], same as IVF) restricted per subspace —
    * deterministic end-to-end (first-argmin ties, rounded outputs), so the
    * oracle is full DuckDB SQL; argmin/boundary margins dwarf cross-engine
    * summation noise exactly as argued for ann_ivf. */
  def annPqAdc(spark: SparkSession, dir: String, queryId: Long = 0L, k: Int = 20,
      rescoreFactor: Int = 3): DataFrame = {
    val nSub = PqSubspaces
    val (listsPath, cb) = ivfIndex(spark, dir)
    val dim = cb.head._2.length
    val sd = dim / nSub
    val qv = vectors(spark, dir).filter(col("vec_id") === queryId)
      .select(col("v")).head().getSeq[Double](0)
    def subOf(a: Seq[Double], m: Int): Seq[Double] = a.slice(m * sd, (m + 1) * sd)
    // ADC table: ‖q_m − c_{l,m}‖² per (subspace, codeword) — driver math on
    // the persisted quantizer, no cluster job
    val qd2: Array[Array[Double]] = Array.tabulate(nSub) { m =>
      cb.sortBy(_._1).map { case (_, cv) =>
        subOf(qv, m).zip(subOf(cv, m))
          .foldLeft(0.0) { case (acc, (a, b)) => acc + (a - b) * (a - b) }
      }.toArray
    }
    val approx = (0 until nSub).map { m =>
      element_at(array(qd2(m).map(lit).toIndexedSeq: _*), col(s"code_$m") + 1)
    }.reduce(_ + _)
    // candidate scan: persisted codes, every list, CODE COLUMNS ONLY
    val cand = ivfLists(spark, listsPath)
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id") +: (0 until nSub).map(m => col(s"code_$m")): _*)
      .withColumn("approx_dist", round(approx, 6))
      .orderBy(col("approx_dist"), col("vec_id")).limit(rescoreFactor * k)
      .select(col("vec_id"), col("approx_dist"))
    val qvCol = array(qv.map(lit): _*)
    cand.join(ivfLists(spark, listsPath).select(col("vec_id"), col("v")), Seq("vec_id"))
      .withColumn("score", round(Vec.cosine(col("v"), qvCol), 4))
      .select(col("vec_id"), col("approx_dist"), col("score"))
      .orderBy(col("score").desc, col("vec_id")).limit(k)
  }

  /** F43: Matryoshka-prefix ANN (Kusupati et al. 2022, "Matryoshka
    * Representation Learning") — MRL-trained embeddings concentrate
    * signal in their leading dimensions, so the candidate pass scores
    * only a PREFIX of each vector (half width by default: 2× less
    * compute; MRL-trained embeddings support far more aggressive
    * truncation, but this corpus is random so the default is
    * conservative) and the bounded top-C survivors rescore on full
    * dimensions. Here the full vector rides the candidate heap, so the
    * corpus is scanned exactly ONCE; at 100 TB with the prefix persisted
    * as its own column, the candidate scan would read the narrow prefix
    * column alone (2× less IO) and the C survivors would fetch full
    * vectors through a broadcast join — the F32 fetch pattern.
    * This completes the serving memory/compute hierarchy alongside int8
    * SQ (F28), PQ/ADC (F29) and IVF-PQ (F32): prefix truncation is the
    * variant that needs NO codebook or index state at all, which is why
    * adaptive-retrieval stacks reach for it first. The synthetic
    * embeddings are not MRL-trained, so prefix recall is a measured
    * property (spec), not assumed; the full two-stage pipeline is
    * deterministic (rounded scores, id tie-breaks) ⇒ full oracle, and a
    * prefix covering all dims must equal exact brute-force (identity
    * spec). */
  def annMatryoshka(spark: SparkSession, dir: String, queryId: Long = 0L, k: Int = 20,
      prefixDims: Int = 32, rescoreFactor: Int = 5): DataFrame = {
    val t = Tables(spark, dir)
    val q = t.embeddings.filter(col("vec_id") === queryId)
      .select(Vec.toDouble(col("embedding")).as("qv")).head().getSeq[Double](0)
    val qPre = array(q.take(prefixDims).map(lit): _*)
    val qFull = array(q.map(lit): _*)
    val e = t.embeddings.filter(col("vec_id") =!= queryId)
      .withColumn("v", Vec.toDouble(col("embedding")))
    // stage 1: prefix-cosine candidates, bounded heap (TakeOrderedAndProject);
    // the full vector rides the heap (C rows) so stage 2 needs no second
    // corpus scan
    val cand = e
      .withColumn("pre_score", round(Vec.cosine(slice(col("v"), 1, prefixDims), qPre), 4))
      .select(col("vec_id"), col("pre_score"), col("v"))
      .orderBy(col("pre_score").desc, col("vec_id")).limit(rescoreFactor * k)
    // stage 2: exact full-dimension rescore of the C carried survivors only
    cand
      .withColumn("score", round(Vec.cosine(col("v"), qFull), 4))
      .select(col("vec_id"), col("pre_score"), col("score"))
      .orderBy(col("score").desc, col("vec_id")).limit(k)
  }

  /** F32: IVF-PQ serving — the full modern ANN stack over the persisted
    * index: the coarse quantizer prunes the scan to `nprobe` list
    * partitions (`PartitionFilters`, as ann_ivf), and WITHIN the probed
    * lists candidate ranking reads ONLY the persisted PQ sub-codes (the
    * `v` column never enters the candidate scan — column pruning does to
    * the row width what partition pruning does to the row count). The ADC
    * table comes from the collected quantizer (driver math, no cluster
    * job); the bounded top-C survivors fetch their raw vectors through one
    * broadcast self-join against the same pruned partitions for the exact
    * rescore. At 100 TB: nprobe/k of the corpus touched, 8 bytes of codes
    * per candidate instead of 256 bytes of floats, C full vectors read. */
  def annIvfPq(spark: SparkSession, dir: String, queryId: Long = 0L, k: Int = 20,
      nprobe: Int = -1, rescoreFactor: Int = 3): DataFrame = {
    val np = if (nprobe > 0) nprobe else defaultNprobe(spark)
    val t = Tables(spark, dir)
    val (listsPath, cents) = ivfIndex(spark, dir)
    val nSub = PqSubspaces
    val dim = cents.head._2.length
    val sd = dim / nSub
    val qv = t.embeddings.filter(col("vec_id") === queryId)
      .select(Vec.toDouble(col("embedding")).as("qv")).head().getSeq[Double](0)
    def sub(a: Seq[Double], m: Int): Seq[Double] = a.slice(m * sd, (m + 1) * sd)
    def dotL(a: Seq[Double], b: Seq[Double]): Double =
      a.iterator.zip(b.iterator).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    def cosL(a: Seq[Double], b: Seq[Double]): Double =
      dotL(a, b) / (math.sqrt(dotL(a, a)) * math.sqrt(dotL(b, b)))
    // probe selection: nprobe nearest centroids, driver-side (|lists| dots)
    val probes = cents.sortBy { case (l, cv) => (-cosL(qv, cv), l) }
      .take(np).map(_._1)
    // ADC table from the same collected quantizer
    val qd2: Array[Array[Double]] = Array.tabulate(nSub) { m =>
      cents.sortBy(_._1).map { case (_, cv) =>
        sub(qv, m).zip(sub(cv, m))
          .foldLeft(0.0) { case (acc, (a, b)) => acc + (a - b) * (a - b) }
      }.toArray
    }
    val approx = (0 until nSub).map { m =>
      element_at(array(qd2(m).map(lit).toIndexedSeq: _*), col(s"code_$m") + 1)
    }.reduce(_ + _)
    // candidate scan: probed partitions, CODE COLUMNS ONLY
    val cand = ivfLists(spark, listsPath)
      .filter(col("list_id").isin(probes: _*) && col("vec_id") =!= queryId)
      .select(col("vec_id") +: (0 until nSub).map(m => col(s"code_$m")): _*)
      .withColumn("approx_dist", round(approx, 6))
      .orderBy(col("approx_dist"), col("vec_id")).limit(rescoreFactor * k)
      .select(col("vec_id"), col("approx_dist"))
    // exact rescore: C ids broadcast back against the same pruned layout
    val qvCol = array(qv.map(lit): _*)
    cand.join(
        ivfLists(spark, listsPath).filter(col("list_id").isin(probes: _*))
          .select(col("vec_id"), col("v"), col("list_id")),
        Seq("vec_id"))
      .withColumn("score", round(Vec.cosine(col("v"), qvCol), 4))
      .select(col("vec_id"), col("list_id").cast("long").as("list_id"),
        col("approx_dist"), col("score"))
      .orderBy(col("score").desc, col("vec_id")).limit(k)
  }

  /** F32b: batch IVF-PQ — N queries at once over the PQ-coded persisted
    * layout (the production serving shape, completing the single/batch
    * matrix the plain-IVF path already has). Probe selection is the F8d
    * broadcast probe-pair join; each query then carries its ADC table as
    * ONE array column (nSub × |codebook| squared distances, built from
    * codegen'd arithmetic over the query vector and the collected
    * quantizer — no per-query driver work, no cluster job). Candidate
    * ranking joins code columns against the broadcast (qid → ADC) map and
    * cuts a bounded top-C per query; only the C·|queries| survivors fetch
    * raw vectors for the exact rescore. */
  def annIvfPqBatch(spark: SparkSession, dir: String, k: Int = 5, nprobe: Int = 2,
      queryMod: Long = 100L, rescoreFactor: Int = 3): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val (listsPath, cents) = ivfIndex(spark, dir)
    val nSub = PqSubspaces
    val dim = cents.head._2.length
    val sd = dim / nSub
    val sorted = cents.sortBy(_._1)
    val centsDf = sorted.toDF("c_label", "cv")
      .select(col("c_label"), col("cv").cast("array<double>").as("cv"))
    val queries = vectors(spark, dir).filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("qid"), col("v").as("qv"), Vec.norm(col("v")).as("qnrm"))
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(Vec.cosine(col("qv"), col("cv")).desc, col("c_label"))
    val probes = queries.crossJoin(broadcast(centsDf))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select(col("qid"), col("c_label").as("list_id"))
    // per-query ADC table as one flat array: entry m·|cb|+l = ‖q_m − c_{l,m}‖²
    val adc = array((0 until nSub).flatMap { m =>
      sorted.map { case (_, cv) =>
        cv.slice(m * sd, (m + 1) * sd).zipWithIndex.map { case (c, j) =>
          val x = element_at(col("qv"), m * sd + j + 1) - lit(c)
          x * x
        }.reduce(_ + _)
      }
    }: _*)
    val qAdc = queries.select(col("qid"), adc.as("adc"))
    val approx = (0 until nSub).map { m =>
      element_at(col("adc"), lit(m * sorted.length) + col(s"code_$m") + 1)
    }.reduce(_ + _)
    val wCand = Window.partitionBy(col("qid"))
      .orderBy(col("approx_dist"), col("vec_id"))
    val cand = ivfLists(spark, listsPath)
      .select(col("vec_id") +: col("list_id") +: (0 until nSub).map(m => col(s"code_$m")): _*)
      .join(probes, Seq("list_id"))
      .filter(col("vec_id") =!= col("qid"))
      .join(broadcast(qAdc), Seq("qid"))
      .withColumn("approx_dist", round(approx, 6))
      .withColumn("crn", row_number().over(wCand))
      .filter(col("crn") <= rescoreFactor * k)
      .select(col("qid"), col("vec_id"), col("approx_dist"))
    val wTop = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("vec_id"))
    cand
      .join(ivfLists(spark, listsPath).select(col("vec_id"), col("v"), col("nrm")), Seq("vec_id"))
      .join(queries.select(col("qid"), col("qv"), col("qnrm")), Seq("qid"))
      .withColumn("score", round(Vec.dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 4))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"), col("approx_dist"), col("score"))
      .orderBy(col("qid"), col("rank"))
  }

  /** F38: hard-negative mining — the contrastive-training data op
    * (retrieval/embedding training wants, per anchor, the most SIMILAR
    * examples with a DIFFERENT label: near-misses the loss learns the
    * most from). This is attribute-filtered batch ANN over the persisted
    * index: probe selection and candidate fetch are exactly F8d's shape
    * (broadcast probe-pair join against the `list_id`-partitioned
    * layout), and the label predicate evaluates INSIDE the probed lists —
    * the index rows carry their label (pq3 layout), so the filter costs
    * zero joins and candidates that share the anchor's label never leave
    * the scan. Top-k per anchor over the surviving negatives only.
    * Deterministic end-to-end ⇒ full oracle. */
  def hardNegatives(spark: SparkSession, dir: String, k: Int = 5, nprobe: Int = 2,
      queryMod: Long = 100L): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val (listsPath, cents) = ivfIndex(spark, dir)
    val centsDf = cents.toDF("c_label", "cv")
      .select(col("c_label"), col("cv").cast("array<double>").as("cv"))
    val queries = vectors(spark, dir).filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("qid"), col("label").as("q_label"),
        col("v").as("qv"), Vec.norm(col("v")).as("qnrm"))
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(Vec.cosine(col("qv"), col("cv")).desc, col("c_label"))
    val probes = queries.crossJoin(broadcast(centsDf))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select(col("qid"), col("q_label"), col("qv"), col("qnrm"),
        col("c_label").as("list_id"))
    val wTop = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("vec_id"))
    ivfLists(spark, listsPath)
      .join(probes, Seq("list_id"))
      // the hard-negative predicate: different label, not the anchor —
      // evaluated on index columns inside the probed partitions
      .filter(col("vec_id") =!= col("qid") && col("label") =!= col("q_label"))
      .withColumn("score",
        round(Vec.dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")), 4))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"),
        col("label").cast("int").as("neg_label"), col("score"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Core of [[embQuantize]], factored over an explicit (vec_id, v) frame
    * so specs can plant degenerate dimensions. `ranges` is the measured
    * per-dimension (min, max) quantization grid. */
  def quantizeAudit(e: DataFrame, ranges: Array[(Double, Double)]): DataFrame = {
    val mnA = array(ranges.map(s => lit(s._1)).toIndexedSeq: _*)
    val mxA = array(ranges.map(s => lit(s._2)).toIndexedSeq: _*)
    // int8 grid: x → floor((x−mn)·254/(mx−mn) + 0.5) − 127, clamped to
    // [−127,127]; a zero-width dimension (mx = mn) encodes as 0. floor(x+0.5)
    // is deterministic rounding — no engine-specific round-half behavior.
    val codes = transform(col("v"), (x, i) => {
      val mn = element_at(mnA, i + 1)
      val mx = element_at(mxA, i + 1)
      when(mx === mn, lit(0L)).otherwise(
        greatest(lit(-127L), least(lit(127L),
          floor((x - mn) * 254.0 / (mx - mn) + 0.5).cast("long") - 127L)))
    })
    e.withColumn("codes", codes)
      // reconstruction xh = mn + (code+127)·(mx−mn)/254: same IEEE op
      // shape as the oracle, so xh is bit-identical cross-engine
      .withColumn("xh", transform(col("codes"), (c, i) => {
        val mn = element_at(mnA, i + 1)
        val mx = element_at(mxA, i + 1)
        mn + (c + 127L).cast("double") * (mx - mn) / 254.0
      }))
      .select(col("vec_id"),
        aggregate(col("codes"), lit(0L), (acc, c) => acc + c).as("code_checksum"),
        array_min(col("codes")).as("code_min"),
        array_max(col("codes")).as("code_max"),
        round(array_max(zip_with(col("v"), col("xh"), (x, xh) => abs(x - xh))), 6)
          .as("max_abs_err"))
      .orderBy(col("vec_id"))
  }

  /** F28: int8 scalar quantization of the embedding column, with a
    * per-vector reconstruction audit — the memory path that lets 100 TB of
    * f32 vectors serve from a quarter of the footprint (dim bytes instead
    * of 4·dim). Per-dimension min/max ranges are measured in ONE
    * partial-aggregated pass (posexplode → per-pos agg — a dims-sized
    * result, the quantizer-collect pattern shared with [[ivfIndex]]); the
    * quantize/reconstruct arithmetic is codegen'd column math. The audit
    * carries only order-free aggregates (integer code checksum/extrema,
    * MAX absolute error) so the DuckDB oracle is exact, never at the mercy
    * of summation order. Spec pins max_abs_err ≤ half a grid step. */
  def embQuantize(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val e = t.embeddings.select(col("vec_id"), Vec.toDouble(col("embedding")).as("v"))
    val ranges = measureRanges(e)
    quantizeAudit(e, ranges)
  }

  /** Per-dimension (min, max) of a (vec_id, v) frame: one distributed
    * partial-aggregated pass, dims-sized collect. */
  def measureRanges(e: DataFrame): Array[(Double, Double)] =
    e.select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("pos")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .orderBy(col("pos")).collect()
      .map(r => (r.getDouble(1), r.getDouble(2)))

  /** Squared L2 distance to a FIXED vector via the polarization identity
    * `‖a‖² − 2⟨a,q⟩ + ‖q‖²` — three sequential [[Vec.dot]] folds in one
    * fixed expression shape, so DuckDB's `list_inner_product` replays
    * identical IEEE arithmetic (the cosSql convention). */
  private def sqDistTo(v: Column, q: Seq[Double]): Column = {
    val ql = typedLit(q)
    Vec.dot(v, v) - lit(2.0) * Vec.dot(v, ql) + Vec.dot(ql, ql)
  }

  /** F64: greedy k-CENTER coreset selection (farthest-point traversal,
    * Gonzalez 2-approximation) — the geometric data-pruning baseline:
    * pick the k most mutually-distant exemplars so a budgeted subset
    * COVERS the embedding cloud (dedup keeps one of each near-dup pair;
    * a coreset keeps one of each REGION — the complement selection).
    * Seed = lowest vec_id; each round promotes the point with the
    * maximum ROUNDED min-distance-to-chosen (4 dec, vec_id tie-break —
    * the ann_topk determinism convention). Report per center: selection
    * order, the distance that won its promotion (the shrinking radius
    * sequence — also the stopping diagnostic), final nearest-center
    * population, and the cluster's covering radius.
    *
    * Scale shape: NEVER a pairwise matrix. Each of the k rounds is one
    * map-only scan updating the running min-distance column
    * (`least(mind, d²-to-new-center)`) through a localCheckpoint — the
    * k-bounded iterative-frame pattern shared with the IVF trainer; the
    * argmax is a 1-row orderBy-limit collect. The final assignment
    * broadcasts k centers and hash-aggs per center. 100 TB cost:
    * k map passes + one k·|groups| agg, zero shuffles of vector data
    * beyond the checkpoint. */
  def sampleKcenter(spark: SparkSession, dir: String, k: Int = 6): DataFrame = {
    import spark.implicits._
    val e = vectors(spark, dir).select(col("vec_id"), col("v")).localCheckpoint(true)
    val first = e.orderBy(col("vec_id")).head()
    var centers = Vector((first.getLong(0), first.getSeq[Double](1), 0.0))
    var cur = e.withColumn("mind", round(sqDistTo(col("v"), centers.head._2), 4))
      .localCheckpoint(true)
    for (_ <- 2 to k) {
      val chosen = centers.map(_._1)
      val nxt = cur.filter(!col("vec_id").isin(chosen: _*))
        .orderBy(col("mind").desc, col("vec_id")).head()
      val cv = nxt.getSeq[Double](1)
      centers = centers :+ ((nxt.getLong(0), cv, nxt.getDouble(2)))
      cur = cur.withColumn("mind",
        least(col("mind"), round(sqDistTo(col("v"), cv), 4)))
        .localCheckpoint(true)
    }
    // final assignment: nearest chosen center (rounded d², earliest-
    // selected tie-break), then per-center population + covering radius
    val cDf = centers.zipWithIndex
      .map { case ((id, _, d), ord) => (ord + 1L, id, d) }
      .toDF("sel_order", "center_id", "sel_dist")
    val distCols = centers.map { case (_, cv, _) => round(sqDistTo(col("v"), cv), 4) }
    val best = cur.select(col("vec_id"), least(distCols: _*).as("bd"),
        array(distCols: _*).as("ds"))
      .select(col("vec_id"), col("bd"),
        (array_position(col("ds"), col("bd"))).as("sel_order"))
    best.groupBy(col("sel_order"))
      .agg(count(lit(1)).as("n_assigned"), max(col("bd")).as("cluster_radius"))
      .join(broadcast(cDf), Seq("sel_order"))
      .select(col("sel_order"), col("center_id"), col("sel_dist"),
        col("n_assigned"), col("cluster_radius"))
      .orderBy(col("sel_order"))
  }

  /** F76: per-vector SILHOUETTE-style assignment confidence over the
    * coarse quantizer — the clustering-quality readout the IVF stack
    * (F8b/F41/F54) serves from but never reports: for every vector, the
    * cosine to its OWN centroid, the runner-up centroid's cosine, and
    * the margin between them. A thin margin marks a vector whose list
    * assignment is arbitrary (the ANN recall risk zone and the SemDeDup
    * false-cluster zone); the `confident` flag thresholds the rounded
    * margin at 0.05 — the simplified (centroid-based) silhouette idea
    * in the engine's cosine geometry.
    *
    * Scale shape: the |lists|×dims quantizer broadcasts; per-vector
    * work is one bounded window over |lists| rows per vec (rank own vs
    * runner-up) — no pairwise stage, nothing corpus-sized shuffles
    * beyond the one explode-free crossJoin row stream. The D36 rounded-
    * verdict convention: margins and flags judge 4-dec-rounded cosines
    * through one fixed expression shape. */
  def embSilhouette(spark: SparkSession, dir: String,
      confidentBar: Double = 0.05): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val e = vectors(spark, dir)
    val centsDf = trainQuantizer(e).toDF("c_label", "cv")
      .select(col("c_label"), col("cv").cast("array<double>").as("cv"))
    val ranked = e.crossJoin(broadcast(centsDf))
      .withColumn("sim", Vec.cosine(col("v"), col("cv")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("sim").desc, col("c_label"))))
    ranked.filter(col("rn") <= 2)
      .groupBy(col("vec_id"))
      .agg(
        max(when(col("rn") === 1, col("c_label"))).as("cluster"),
        max(when(col("rn") === 1, round(col("sim"), 4))).as("cos_own"),
        max(when(col("rn") === 2, round(col("sim"), 4))).as("cos_next"))
      .withColumn("margin", round(col("cos_own") - col("cos_next"), 4))
      .withColumn("confident", (col("margin") >= confidentBar).cast("int"))
      .orderBy(col("vec_id"))
  }
}
