package graft

import graft.functions.Vec
import graft.operators.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the vector similarity surface (SURVEY F6–F8). */
class SimilaritySpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("cosine of a vector with itself is 1") {
    val df = Seq(Tuple1(Array(1.0f, 2.0f, 3.0f))).toDF("v")
    val c = df.select(Vec.cosine(Vec.toDouble(col("v")), Vec.toDouble(col("v"))))
      .head().getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("cosine of orthogonal vectors is 0") {
    val df = Seq((Array(1.0f, 0.0f), Array(0.0f, 1.0f))).toDF("a", "b")
    val c = df.select(Vec.cosine(Vec.toDouble(col("a")), Vec.toDouble(col("b"))))
      .head().getDouble(0)
    assert(math.abs(c) < 1e-12)
  }

  test("lsh bucketing is deterministic and partitions all vectors") {
    val a1 = Similarity.lshAssign(spark, sfDir).collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val a2 = Similarity.lshAssign(spark, sfDir).collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(a1 == a2)
    assert(a1.size == 500)
    assert(a1.values.forall(b => b >= 0 && b < (1L << Similarity.NPlanes)))
  }

  test("lsh buckets put cosine-similar vectors together more often than random") {
    // nearly-parallel vectors must collide; orthogonal ones usually not
    val base = Array.tabulate(64)(i => math.sin(i * 0.7).toFloat)
    val near = base.map(x => x * 1.01f)
    val planes = Vec.planeWeights(Similarity.NPlanes, 64)
    val df = Seq((1L, base), (2L, near)).toDF("vec_id", "embedding")
    val buckets = df.select(Vec.lshBucket(Vec.toDouble(col("embedding")), planes).as("b"))
      .collect().map(_.getLong(0))
    assert(buckets(0) == buckets(1), "scaled copy must share every sign bucket")
  }

  test("ivf ann with nprobe=3 recalls most of the exact top-k") {
    val exact = Similarity.annTopK(spark, sfDir, queryId = 0L, k = 10)
      .collect().map(_.getLong(0)).toSet
    val ivf = Similarity.ivfAnn(spark, sfDir, queryId = 0L, k = 10, nprobe = 3)
      .collect().map(_.getLong(0)).toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall=$recall exact=$exact ivf=$ivf")
  }

  test("k-means refinement does not degrade centroid fit") {
    val e = Similarity.vectors(spark, sfDir)
    def avgBestSim(cents: org.apache.spark.sql.DataFrame): Double = {
      e.crossJoin(broadcast(cents.select(col("label").as("c_label"), col("cv"))))
        .withColumn("sim", graft.functions.Vec.cosine(col("v"), col("cv")))
        .groupBy(col("vec_id")).agg(max(col("sim")).as("best"))
        .agg(avg(col("best"))).head().getDouble(0)
    }
    val before = Similarity.labelCentroids(e)
    val after = Similarity.refineCentroids(e, before)
    assert(after.count() <= before.count()) // lists can merge, never split
    assert(avgBestSim(after) >= avgBestSim(before) - 0.01,
      "refinement should not lose fit")
  }

  test("conf-gated lloyd refinement rebuilds into a new index version and does not degrade fit or recall") {
    def listSizes(): Map[Int, Long] = {
      val (lp, _) = Similarity.ivfIndex(spark, sfDir)
      Similarity.ivfLists(spark, lp).groupBy(col("list_id")).count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    }
    def spread(m: Map[Int, Long]): Double = {
      val xs = m.values.map(_.toDouble)
      val mean = xs.sum / xs.size
      math.sqrt(xs.map(x => (x - mean) * (x - mean)).sum / xs.size) / mean
    }
    def fit(cents: Seq[(Int, Seq[Double])]): Double = {
      import spark.implicits._
      val cDf = cents.toDF("label", "cv")
        .select(col("label").as("c_label"), col("cv").cast("array<double>").as("cv"))
      Similarity.vectors(spark, sfDir).crossJoin(broadcast(cDf))
        .withColumn("sim", Vec.cosine(col("v"), col("cv")))
        .groupBy(col("vec_id")).agg(max(col("sim")).as("best"))
        .agg(avg(col("best"))).head().getDouble(0)
    }
    val rawSizes = listSizes()
    val (rawPath, rawCents) = Similarity.ivfIndex(spark, sfDir)
    spark.conf.set("graft.ivf.refine", "2")
    try {
      val (refPath, refCents) = Similarity.ivfIndex(spark, sfDir)
      // a different refine setting is a different layout VERSION — the
      // raw-quantizer index must never be served as the refined one
      assert(refPath != rawPath, "refine=2 served the refine=0 version")
      val refSizes = listSizes()
      info(s"list-size spread raw=${spread(rawSizes)} refined=${spread(refSizes)} " +
        s"lists raw=${rawSizes.size} refined=${refSizes.size}")
      // the point of refining: balanced lists (measured 0.12 → 0.08 on
      // this corpus); a small slack keeps the spec about direction, not
      // the third decimal
      assert(spread(refSizes) <= spread(rawSizes) + 0.01,
        s"refinement did not balance list populations: " +
          s"${spread(rawSizes)} -> ${spread(refSizes)}")
      // every vector stays indexed through refinement
      assert(refSizes.values.sum == rawSizes.values.sum, "refinement lost vectors")
      // lloyd's invariant: the refined quantizer fits at least as well
      assert(fit(refCents) >= fit(rawCents) - 1e-9,
        "refined quantizer degraded the k-means objective")
      // serving through the refined index keeps recall
      val exact = Similarity.annTopK(spark, sfDir, queryId = 0L, k = 10)
        .collect().map(_.getLong(0)).toSet
      val ivf = Similarity.ivfAnn(spark, sfDir, queryId = 0L, k = 10, nprobe = 3)
        .collect().map(_.getLong(0)).toSet
      assert(exact.intersect(ivf).size.toDouble / exact.size >= 0.5)
    } finally spark.conf.unset("graft.ivf.refine")
  }

  test("hard negatives: never the anchor's label, filter evaluates on index columns") {
    val out = Similarity.hardNegatives(spark, sfDir).collect()
    assert(out.nonEmpty)
    val labels = Similarity.vectors(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.foreach { r =>
      val (qid, vid, negLabel) = (r.getLong(0), r.getLong(2), r.getInt(3))
      assert(negLabel != labels(qid),
        s"anchor $qid mined a same-label 'negative' $vid")
      assert(negLabel == labels(vid), "reported label must be the candidate's")
      assert(vid != qid)
    }
    // per-anchor ranks are 1..k without gaps and scores descend
    out.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to sorted.length).toSeq)
      val scores = sorted.map(_.getDouble(4))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"anchor $qid scores not descending")
    }
    // the label predicate reads the INDEX's label column: the lists scan
    // serves label (ReadSchema), and every corpus-parquet scan is the
    // query-vector fetch (carries the % queryMod filter — a full
    // unfiltered corpus scan would mean candidate labels were joined
    // back from the table). The corpus subtree may print twice: once as
    // the probe side, once inside the dynamic-partition-pruning subquery
    // that prunes the lists — both are the tiny filtered fetch.
    val p = Similarity.hardNegatives(spark, sfDir).queryExecution.executedPlan.toString
    assert(p.contains("ReadSchema: struct<vec_id:bigint,label:int"),
      s"index scan does not serve the label column:\n$p")
    val corpusScans = p.linesIterator.filter(l =>
      l.contains("Scan parquet") && l.contains("embeddings.parquet")).toSeq
    assert(corpusScans.nonEmpty && corpusScans.forall(_.contains("% 100")),
      s"an unfiltered corpus scan on the candidate path:\n${corpusScans.mkString("\n")}")
  }

  test("ann_topk ranks an exact duplicate of the query vector first") {
    // top hit of the query against the corpus must dominate the rest
    val top = Similarity.annTopK(spark, sfDir, queryId = 0L, k = 5).collect()
    assert(top.length == 5)
    val scores = top.map(_.getDouble(2))
    assert(scores.toSeq == scores.sorted.reverse.toSeq, "scores must be descending")
  }

  test("batch ivf ann equals the single-query path for every query in the batch") {
    // the batch form must be a pure re-plumbing (probe pairs + one join
    // against the persisted lists), not a semantic variant: per query,
    // identical ranked candidates to the one-query operator
    // queryMod picked for a handful of queries: per-query equality does
    // not strengthen with more identical iterations, and each single-query
    // run costs two driver actions
    val batch = Similarity.ivfAnnBatch(spark, sfDir, k = 5, nprobe = 2, queryMod = 20L)
      .collect().groupBy(_.getLong(0))
      .map { case (qid, rows) =>
        qid -> rows.sortBy(_.getInt(1)).map(r => (r.getLong(2), r.getDouble(4))).toSeq
      }
    assert(batch.size > 1, "need several queries for the batch to mean anything")
    for ((qid, expected) <- batch) {
      val single = Similarity.ivfAnn(spark, sfDir, queryId = qid, k = 5, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
      assert(single == expected, s"query $qid: batch=$expected single=$single")
    }
  }

  test("neardup_cosine refuses an over-budget corpus and names the scale path") {
    // in budget: runs (the oracle covers the output); over budget (a
    // budget below this corpus's own pair count = the planted oversized
    // block): the guard must fire BEFORE the quadratic join, and the
    // message must route the user to the gated variant
    val ex = intercept[IllegalArgumentException] {
      Similarity.neardupCosine(spark, sfDir, pairBudget = 10L)
    }
    assert(ex.getMessage.contains("neardup_ivf_gated"),
      s"guard must point at the scale path: ${ex.getMessage}")
    assert(Similarity.neardupCosine(spark, sfDir).collect().nonEmpty,
      "default budget must keep the in-budget corpus working")
  }

  test("ivf-gated near-dup: no false positives, measured recall vs unblocked exact") {
    // the gated op trades recall for a bounded join (pairs only meet
    // inside an inverted list); every emitted pair must be a true
    // near-dup, and recall vs the unblocked all-pairs ground truth is a
    // measured property -- on this near-random corpus expect partial
    // recall (qualifying pairs sit at cos 0.35-0.51 where bucketing
    // cannot be complete), never zero.
    val th = 0.35
    val vecs = Similarity.vectors(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](2).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dab = 0.0; var daa = 0.0; var dbb = 0.0; var i = 0
      while (i < a.length) { dab += a(i)*b(i); daa += a(i)*a(i); dbb += b(i)*b(i); i += 1 }
      dab / (math.sqrt(daa) * math.sqrt(dbb))
    }
    val truth = (for {
      (i1, v1) <- vecs; (i2, v2) <- vecs
      if i1 < i2 && math.rint(cos(v1, v2) * 10000) / 10000 >= th
    } yield (i1, i2)).toSet
    val gated = Similarity.neardupIvfGated(spark, sfDir, th).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gated.subsetOf(truth), s"false positives: ${gated -- truth}")
    val recall = gated.size.toDouble / truth.size
    assert(recall > 0.1 && recall <= 1.0, s"recall=$recall")
  }

  test("multi-probe lsh recall dominates the single-bucket probe") {
    val exact = Similarity.annTopK(spark, sfDir, queryId = 0L, k = 10)
      .collect().map(_.getLong(0)).toSet
    val assign = Similarity.lshAssign(spark, sfDir)
    val qb = assign.filter(col("vec_id") === 0L).head().getLong(2)
    val single = assign.filter(col("bucket") === qb && col("vec_id") =!= 0L)
      .collect().map(_.getLong(0)).toSet
    val multi = Similarity.annLshMultiProbe(spark, sfDir, queryId = 0L, k = 500)
      .collect().map(_.getLong(0)).toSet
    assert(single.subsetOf(multi), "multi-probe must include the home bucket")
    val rSingle = exact.intersect(single).size.toDouble / exact.size
    val rMulti = exact.intersect(multi).size.toDouble / exact.size
    assert(rMulti >= rSingle, s"multi=$rMulti single=$rSingle")
    assert(rMulti > 0.0, "multi-probe found none of the true neighbors")
  }

  test("pq-adc: codes stay in codebook range, a codeword self-assigns, and ADC candidates recall exact top-k") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val e = Similarity.vectors(spark, sfDir)
    val cb = Similarity.trainQuantizer(e)
    val codes = Similarity.pqEncode(e, cb, nSub = 8)
    val codeCols = (0 until 8).map(m => col(s"code_$m"))
    // every sub-code indexes into the 10-codeword codebook (1 byte each)
    val mx = codes.select(codeCols.map(c => org.apache.spark.sql.functions.max(c)): _*).head()
    val mn = codes.select(codeCols.map(c => org.apache.spark.sql.functions.min(c)): _*).head()
    (0 until 8).foreach { m =>
      assert(mn.getInt(m) >= 0 && mx.getInt(m) <= cb.length - 1,
        s"subspace $m codes [${mn.getInt(m)},${mx.getInt(m)}] outside codebook")
    }
    // a codeword fed back through the encoder must pick itself in every
    // subspace (distance 0 is the unique argmin)
    val cwFrame = cb.map { case (l, cv) => (l.toLong, cv) }.toDF("vec_id", "v")
      .select(col("vec_id"), col("v").cast("array<double>").as("v"))
    val selfCodes = Similarity.pqEncode(cwFrame, cb, nSub = 8).collect()
    val labelIdx = cb.map(_._1).sorted.zipWithIndex.toMap
    selfCodes.foreach { r =>
      val want = labelIdx(r.getLong(0).toInt)
      (1 to 8).foreach(m => assert(r.getInt(m) == want,
        s"codeword ${r.getLong(0)} subspace ${m - 1} encoded ${r.getInt(m)}, want $want"))
    }
    // encoding is deterministic: two plans, identical codes
    assert(codes.collect().toSeq == Similarity.pqEncode(e, cb, nSub = 8).collect().toSeq)
    // ADC candidates carry real recall against the exact scan
    val exact = Similarity.annTopK(spark, sfDir).collect().map(_.getLong(0)).toSet
    val pq = Similarity.annPqAdc(spark, sfDir).collect().map(_.getLong(0)).toSet
    val recall = exact.intersect(pq).size.toDouble / exact.size
    assert(recall >= 0.5, s"pq-adc recall@20 vs exact = $recall, expected >= 0.5")
  }

  test("ivf-pq: candidate scan reads codes not vectors, partitions prune, and recall holds vs exact") {
    val df = Similarity.annIvfPq(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // partition pruning: the probed list_id filter reaches the scan
    assert(plan.contains("PartitionFilters: [list_id"),
      s"probe filter did not prune partitions:\n${plan.take(2000)}")
    // column pruning: the candidate scan reads the code columns and NOT
    // the raw vector — in the lists' file-schema order v precedes code_0,
    // so a schema whose second field is code_0 provably skipped v
    assert(plan.contains("ReadSchema: struct<vec_id:bigint,code_0:int"),
      s"no codes-only candidate scan:\n${plan.take(3000)}")
    val rows = df.collect()
    assert(rows.length == 20)
    // every result lives in a probed list and rescored scores are sane
    assert(rows.forall(r => !r.isNullAt(3)))
    // recall against the exact scan: bounded below by the IVF gate's own
    // recall; 0.4 is a conservative floor measured well under the actual
    val exact = Similarity.annTopK(spark, sfDir).collect().map(_.getLong(0)).toSet
    val got = rows.map(_.getLong(0)).toSet
    assert(exact.intersect(got).size >= 8, s"ivfpq recall too low: ${exact.intersect(got).size}/20")
    // deterministic end-to-end (same persisted index, same plan)
    assert(df.collect().toSeq == Similarity.annIvfPq(spark, sfDir).collect().toSeq)
  }

  test("batch ivf-pq equals the single-query path per query") {
    val batch = Similarity.annIvfPqBatch(spark, sfDir, k = 5, nprobe = 2).collect()
    assert(batch.nonEmpty)
    val qids = batch.map(_.getLong(0)).distinct
    qids.foreach { qid =>
      val single = Similarity
        .annIvfPq(spark, sfDir, queryId = qid, k = 5, nprobe = 2, rescoreFactor = 3)
        .collect().map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3))).toSeq
      val got = batch.filter(_.getLong(0) == qid).sortBy(_.getInt(1))
        .map(r => (r.getLong(2), r.getDouble(3), r.getDouble(4))).toSeq
      assert(got == single, s"qid $qid: batch $got != single $single")
    }
  }

  test("int8 quantization: codes clamp to [-127,127], error within half a grid step, degenerate dims encode 0") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // real corpus: every vector's reconstruction error must respect the
    // grid bound — half the widest dimension's step (+fp headroom)
    val e = graft.Tables(spark, sfDir).embeddings // corpus frame as embQuantize builds it
      .select(col("vec_id"), graft.functions.Vec.toDouble(col("embedding")).as("v"))
    val ranges = Similarity.measureRanges(e)
    val halfStep = ranges.map { case (mn, mx) => (mx - mn) / 254.0 / 2.0 }.max
    val audit = Similarity.quantizeAudit(e, ranges).collect()
    assert(audit.length == e.count())
    audit.foreach { r =>
      assert(r.getLong(2) >= -127 && r.getLong(3) <= 127,
        s"vec ${r.getLong(0)}: codes [${r.getLong(2)},${r.getLong(3)}] out of int8 range")
      assert(r.getDouble(4) <= halfStep + 1e-9,
        s"vec ${r.getLong(0)}: err ${r.getDouble(4)} exceeds half-step $halfStep")
    }
    // planted frame: a constant dimension must encode 0 everywhere with no
    // div-by-zero, and grid endpoints map to the extreme codes exactly
    val planted = Seq(
      (1L, Seq(0.0, 5.0, -2.0)),
      (2L, Seq(10.0, 5.0, 2.0)),
      (3L, Seq(5.0, 5.0, 0.0))).toDF("vec_id", "v")
      .select(col("vec_id"), col("v").cast("array<double>").as("v"))
    val pRanges = Similarity.measureRanges(planted)
    assert(pRanges(1) == (5.0, 5.0), "dim 1 is constant")
    val pa = Similarity.quantizeAudit(planted, pRanges)
      .collect().map(r => r.getLong(0) -> r).toMap
    // vec 1: dim0 at grid min → -127, dim1 constant → 0, dim2 at min → -127
    assert(pa(1L).getLong(2) == -127 && pa(1L).getLong(3) == 0)
    assert(pa(1L).getLong(1) == -127L + 0L + -127L)
    // vec 2: dim0/dim2 at grid max → +127; checksum 127+0+127
    assert(pa(2L).getLong(1) == 254L && pa(2L).getLong(3) == 127)
    // endpoints reconstruct exactly → zero error on vec 2's extremes; the
    // midpoint vec 3 dim0 (5.0 over [0,10]) lands on a grid point too
    assert(pa(2L).getDouble(4) == 0.0)
  }

  test("ivf index GC grace: a reader of the old version survives one rebuild") {
    // private corpus dir + private index root so the shared sfDir index
    // other tests depend on is never touched
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_gc").toFile
    val corpus = new java.io.File(tmp, "corpus"); corpus.mkdirs()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/embeddings.parquet"),
      new java.io.File(corpus, "embeddings.parquet").toPath)
    val emb = new java.io.File(corpus, "embeddings.parquet")
    spark.conf.set("graft.scratch.root", tmp.getPath)
    try {
      val (lists1, _) = Similarity.ivfIndex(spark, corpus.getPath)
      val v1Dir = new java.io.File(lists1).getParentFile
      // a concurrent JVM resolved v1 and reads it LAZILY — plan now, run later
      val v1Reader = Similarity.ivfLists(spark, lists1)
      val v1Rows = v1Reader.count()
      // corpus changes (stamp = name:length:mtime) → rebuild publishes v2
      assert(emb.setLastModified(emb.lastModified() + 5000))
      val (lists2, _) = Similarity.ivfIndex(spark, corpus.getPath)
      assert(lists2 != lists1, "stamp change must produce a new version")
      assert(v1Dir.exists(), "grace: newest superseded version must survive one rebuild")
      assert(v1Reader.count() == v1Rows, "in-flight v1 reader must still scan cleanly")
      // second corpus change → v3; v1 is now two generations old and collected
      assert(emb.setLastModified(emb.lastModified() + 5000))
      val (lists3, _) = Similarity.ivfIndex(spark, corpus.getPath)
      assert(lists3 != lists2)
      assert(!v1Dir.exists(), "versions two rebuilds old must be GC'd")
      assert(new java.io.File(lists2).getParentFile.exists(),
        "v2 is the newest superseded version and keeps its grace")
      assert(Similarity.ivfLists(spark, lists3).count() == v1Rows)
    } finally {
      spark.conf.unset("graft.scratch.root")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(): Unit
      }
      rm(tmp)
    }
  }

  test("matryoshka: full-width prefix equals brute force, half-width prefix recalls most of top-k") {
    // identity: a prefix covering ALL dims is exactly two-stage brute force
    val exact = Similarity.annTopK(spark, sfDir, queryId = 0L, k = 10)
      .collect().map(_.getLong(0))
    val fullPrefix = Similarity.annMatryoshka(spark, sfDir, queryId = 0L, k = 10,
        prefixDims = 64).collect().map(_.getLong(0))
    assert(fullPrefix.sameElements(exact),
      s"full prefix diverged: ${fullPrefix.toSeq} vs ${exact.toSeq}")
    // measured recall of the half-width prefix pass (embeddings are not
    // MRL-trained, so this is a property of the corpus, not assumed)
    val mrl = Similarity.annMatryoshka(spark, sfDir, queryId = 0L, k = 10)
      .collect().map(_.getLong(0)).toSet
    val recall = exact.count(mrl.contains).toDouble / exact.length
    assert(recall >= 0.7, s"recall=$recall")
    // the candidate stage must plan a bounded heap, not a global sort
    val p = Similarity.annMatryoshka(spark, sfDir).queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), s"no bounded top-C:\n$p")
  }

  test("semdedup: outlier survives its dup group, ties break to lower id, chains drop one-pass") {
    // (vec_id, list_id, v, csim) — csim planted to pin the keep-priority rule
    val rows = Seq(
      // cluster 1: ids 1,2 identical (cos=1); id 2 is farther from the
      // centroid (lower csim) and must be the survivor; id 3 orthogonal
      (1L, 1, Seq(1.0, 0.0), 0.9),
      (2L, 1, Seq(1.0, 0.0), 0.7),
      (3L, 1, Seq(0.0, 1.0), 0.8),
      // cluster 2: identical vectors AND identical csim — tie breaks to
      // the smaller vec_id
      (4L, 2, Seq(1.0, 0.0), 0.5),
      (5L, 2, Seq(1.0, 0.0), 0.5),
      // cluster 3: chain X~Y~Z (cos(X,Y)=cos(Y,Z)=0.8, cos(X,Z)=0.28<τ),
      // csim ascending X<Y<Z: the published ONE-PASS rule drops Y (by X)
      // and Z (by Y — even though Y itself is dropped)
      (6L, 3, Seq(1.0, 0.0), 0.3),
      (7L, 3, Seq(0.8, 0.6), 0.5),
      (8L, 3, Seq(0.28, 0.96), 0.9))
    val e = rows.toDF("vec_id", "list_id", "v", "csim")
      .withColumn("nrm", graft.functions.Vec.norm(col("v")))
    val kept = Similarity.semDedupVerdicts(e, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(kept == Map(1L -> false, 2L -> true, 3L -> true,
      4L -> true, 5L -> false,
      6L -> true, 7L -> false, 8L -> false))
  }

  test("mmr: selections come from the candidate set, rank 1 is the relevance top-1, step 2 matches the formula") {
    import org.apache.spark.sql.functions.{col, round}
    val got = Similarity.annMmrDiverse(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.map(_._1).toSeq == (1L to 5L), "ranks")
    assert(got.map(_._2).distinct.length == 5, "duplicate selection")
    // independent candidate recomputation
    val q = Tables(spark, sfDir).embeddings.filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val qv = org.apache.spark.sql.functions.array(q.map(org.apache.spark.sql.functions.lit): _*)
    val cand = Tables(spark, sfDir).embeddings.filter(col("vec_id") =!= 0L)
      .withColumn("simq", round(graft.functions.Vec.cosine(
        graft.functions.Vec.toDouble(col("embedding")), qv), 4))
      .select(col("vec_id"), col("simq"), graft.functions.Vec.toDouble(col("embedding")).as("v"))
      .orderBy(col("simq").desc, col("vec_id")).limit(20).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Double](2)))
    val candIds = cand.map(_._1).toSet
    assert(got.forall(g => candIds(g._2)), "selection outside the candidate set")
    assert(got.head._2 == cand.head._1 && got.head._3 == cand.head._2, "rank 1")
    // step 2 by hand: argmax round(0.7*simq - 0.3*r4(cos(d, s1)), 4)
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val s1v = cand.head._3
    val step2 = cand.drop(1).map { case (id, simq, v) =>
      (id, r4(0.7 * simq - 0.3 * r4(cos(v, s1v))))
    }.maxBy { case (id, s) => (s, -id) }
    assert(got(1)._2 == step2._1 && got(1)._4 == step2._2,
      s"step 2: got ${got(1)} want $step2")
  }

  test("range search equals top-k over the same probes filtered at the threshold") {
    val tau = 0.2
    val range = graft.operators.Similarity.annRange(spark, sfDir, tau = tau).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(range.nonEmpty, "threshold admits nothing — vacuous")
    assert(range.forall(_._3 >= tau), "a score under the bar leaked through")
    // consistency: a huge-k top-k over the same probes, cut at tau, is
    // exactly the range result (same probes, same rounding, same order)
    val topk = graft.operators.Similarity.ivfAnn(spark, sfDir, k = 100000).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(_._3 >= tau)
    assert(range.toSeq == topk.toSeq, "range and thresholded top-k diverge")
    // dense-neighborhood property: the bar admits MORE than the default k
    // would show or the query is trivially a top-k (either is fine, but
    // the ordering must be total and deterministic)
    assert(range.map(t => (-t._3, t._1)).toSeq == range.map(t => (-t._3, t._1)).sortBy(identity).toSeq)
  }

  test("density prune: exact floor(n/4) quota per cluster, densest dropped, prune-nothing identity") {
    val got = Similarity.densityPrune(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))
    assert(got.nonEmpty)
    got.groupBy(_._2).foreach { case (_, rows) =>
      val n = rows.head._5
      assert(rows.forall(_._5 == n), "cluster_size disagrees within a cluster")
      assert(rows.length.toLong == n)
      val dropped = rows.filterNot(_._6)
      assert(dropped.length.toLong == n / 4, "drop quota is not floor(n/4)")
      // the dropped set is exactly the top-ranked (densest) prefix
      assert(dropped.map(_._4).sorted.toSeq == (1L to n / 4).toSeq)
      // rank order replays (csim DESC, vec_id) exactly
      val byRank = rows.sortBy(_._4).map(r => (-r._3, r._1)).toSeq
      assert(byRank == byRank.sortBy(identity), "density rank disagrees with (csim DESC, vec_id)")
    }
    // dropNum=0: the prune-nothing identity keeps every row
    val all = Similarity.densityPrune(spark, sfDir, dropNum = 0).collect()
    assert(all.forall(_.getBoolean(5)))
    assert(all.length == got.length)
  }

  test("embedding drift: negated current split drifts (cos = -1), identical split does not (cos = 1)") {
    import spark.implicits._
    // label 0: current batch NEGATED (centroid flips, cos = -1 exactly);
    // label 1: identical distribution (cos = 1); both splits non-empty
    val base = Seq(Seq(1.0, 2.0, 3.0), Seq(2.0, 1.0, 0.5), Seq(0.5, 0.5, 4.0),
      Seq(3.0, 0.1, 1.0), Seq(1.5, 2.5, 0.2))
    val rows =
      base.zipWithIndex.map { case (v, i) => (i.toLong * 5 + 1, 0, v) } ++      // label 0 ref
      base.zipWithIndex.map { case (v, i) => (i.toLong * 5 + 100, 0, v.map(-_)) } ++ // label 0 cur (ids %5==0)
      base.zipWithIndex.map { case (v, i) => (i.toLong * 5 + 2, 1, v) } ++      // label 1 ref
      base.zipWithIndex.map { case (v, i) => (i.toLong * 5 + 200, 1, v) }       // label 1 cur
    val got = Similarity.embeddingDriftOf(rows.toDF("vec_id", "label", "v"), bar = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    assert(got.length == 2)
    val (l0, l1) = (got.find(_._1 == 0L).get, got.find(_._1 == 1L).get)
    assert(l0._2 == 5L && l0._3 == 5L && l0._4 == -1.0 && l0._5, s"label 0: $l0")
    assert(l1._2 == 5L && l1._3 == 5L && l1._4 == 1.0 && !l1._5, s"label 1: $l1")
  }

  test("pca power: planted dominant axis recovered, loadings unit-norm, sign canonical") {
    import spark.implicits._
    // cloud = strong variance along axis 2, weak along axis 0, none else:
    // PC1 must be ±e2, canonicalized to +e2; eigenvalue = population
    // variance along it
    val xs = Seq(-3.0, -1.5, 0.0, 1.5, 3.0)
    val eps = Seq(0.1, -0.1, 0.0, 0.1, -0.1)
    val rows = xs.zip(eps).zipWithIndex.map { case ((x, ep), i) =>
      (i.toLong, Seq(ep, 0.0, x, 0.0)) }
    val got = Similarity.embPcaPowerOf(rows.toDF("vec_id", "v"), iters = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(got.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L))
    val loadings = got.map(_._2)
    // dominant coordinate, positive sign, others negligible
    assert(loadings(2) > 0.99, s"PC1 not along planted axis: ${loadings.toSeq}")
    assert(math.abs(loadings(0)) < 0.05 && loadings(1) == 0.0 && loadings(3) == 0.0)
    assert(math.abs(loadings.map(x => x * x).sum - 1.0) < 1e-3, "loadings not unit norm")
    // eigenvalue ≈ population variance of xs (4.5), pulled slightly by eps
    assert(math.abs(got.head._3 - 4.5) < 0.02, s"eigenvalue ${got.head._3}")
    // all rows carry the same eigenvalue
    assert(got.map(_._3).distinct.length == 1)
  }

  test("pca top2: both planted axes recovered in energy order, orthogonal, eigenvalues ordered") {
    import spark.implicits._
    // strong variance on axis 2, medium on axis 1, none else → PC1 = +e2,
    // PC2 = +e1, λ1 > λ2 > 0
    val xs = Seq(-3.0, -1.5, 0.0, 1.5, 3.0)
    val ys = Seq(1.0, -2.0, 2.0, -2.0, 1.0) // Σy = 0, Σxy = 0 — exactly orthogonal
    val rows = xs.zip(ys).zipWithIndex.map { case ((x, y), i) =>
      (i.toLong, Seq(0.0, y, x, 0.0)) }
    val got = Similarity.embPcaTop2Of(rows.toDF("vec_id", "v"), iters = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    val v1 = got.map(_._2); val v2 = got.map(_._3)
    assert(v1(2) > 0.99 && math.abs(v1(1)) < 0.05, s"PC1 off axis: ${v1.toSeq}")
    assert(v2(1) > 0.99 && math.abs(v2(2)) < 0.05, s"PC2 off axis: ${v2.toSeq}")
    val dot = v1.zip(v2).map { case (a, b) => a * b }.sum
    assert(math.abs(dot) < 0.02, s"components not orthogonal: $dot")
    val (l1, l2) = (got.head._4, got.head._5)
    assert(l1 > l2 && l2 > 0.0, s"eigenvalues out of order: $l1, $l2")
    // and on the real corpus, PC1 agrees with the registered F57 query
    val top2 = Similarity.embPcaTop2(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(3)))
    val pc1 = Similarity.embPcaPower(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(top2.map(t => (t._1, t._2, t._3)).toSeq == pc1.toSeq,
      "top2's first component diverged from the F57 query")
  }

  test("knn graph: dense ranks, descending cosine, neighbors in-list, top-1 is the list argmax") {
    val rows = Similarity.knnGraph(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    val byVec = rows.groupBy(_._1)
    byVec.foreach { case (_, ns) =>
      val sorted = ns.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to ns.length.toLong).toSeq, "ranks not dense")
      assert(sorted.sliding(2).forall {
        case Array(x, y) => x._5 > y._5 || (x._5 == y._5 && x._3 < y._3); case _ => true
      }, "rank order violates (cos DESC, nbr_id)")
      assert(ns.map(_._4).distinct.length == 1, "neighbors cross lists")
    }
    // brute-check top-1 for three vectors against the full in-list scan
    val (listsPath, _) = Similarity.ivfIndex(spark, sfDir)
    val l = Similarity.ivfLists(spark, listsPath)
      .select(col("vec_id"), col("list_id"), col("v"), col("nrm")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2).toArray, r.getDouble(3)))
    def cos(a: Array[Double], na: Double, b: Array[Double], nb: Double) = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      BigDecimal(s / (na * nb)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    byVec.keys.toSeq.sorted.take(3).foreach { vid =>
      val me = l.find(_._1 == vid).get
      val best = l.filter(x => x._2 == me._2 && x._1 != vid)
        .map(x => (-cos(me._3, me._4, x._3, x._4), x._1)).min
      val top1 = byVec(vid).minBy(_._2)
      assert(top1._3 == best._2 && top1._5 == -best._1,
        s"vec $vid top-1 ${top1._3}@${top1._5} != brute ${best._2}@${-best._1}")
    }
  }

  test("triplet mine: brute batch-hard replay, label contracts, violation consistency") {
    val got = Similarity.tripletMine(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5), r.getDouble(6), r.getInt(7))).toSeq
    assert(got.nonEmpty)
    val (listsPath, _) = Similarity.ivfIndex(spark, sfDir)
    val l = Similarity.ivfLists(spark, listsPath)
      .select(col("vec_id"), col("list_id"), col("v"), col("nrm")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2).toArray, r.getDouble(3)))
    val labelOf = Similarity.vectors(spark, sfDir)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    def cos(a: Array[Double], na: Double, b: Array[Double], nb: Double) = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      BigDecimal(s / (na * nb)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val brute = l.flatMap { case (vid, list, v, n) =>
      val others = l.filter(x => x._2 == list && x._1 != vid)
        .map(x => (x._1, labelOf(x._1), cos(v, n, x._3, x._4)))
      val same = others.filter(_._2 == labelOf(vid))
      val diff = others.filter(_._2 != labelOf(vid))
      if (same.isEmpty || diff.isEmpty) None
      else {
        val p = same.map(o => (o._3, o._1)).min
        val g = diff.map(o => (o._3, o._1)).max
        Some((vid, labelOf(vid), list.toLong, p._2, p._1, g._2, g._1,
          if (g._1 + 0.05 > p._1) 1 else 0))
      }
    }.sortBy(_._1).toSeq
    assert(got == brute, s"engine ${got.take(2)} vs brute ${brute.take(2)}")
    got.foreach { case (vid, lab, _, pid, pc, nid, nc, viol) =>
      assert(labelOf(pid) == lab, s"$vid positive crosses labels")
      assert(labelOf(nid) != lab, s"$vid negative shares the label")
      assert(viol == (if (nc + 0.05 > pc) 1 else 0), s"$vid violation flag")
    }
  }

  test("all-but-top: removed energy obeys Pythagoras, norms never grow") {
    val rows = Similarity.embAllButTop(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, proj, nb, na) =>
      // vc = vp + proj·pc1 with pc1 ~unit ⇒ nb² ≈ na² + proj²
      assert(math.abs(nb * nb - (na * na + proj * proj)) < 1e-2,
        s"vec $id: $nb² != $na² + $proj²")
      assert(na <= nb + 1e-3, s"vec $id: norm grew after removal")
    }
    // the removal is non-trivial: SOME vector has a sizable projection
    assert(rows.exists(r => math.abs(r._2) > 1e-3), "all projections ~0 — degenerate fit")
  }

  test("kcenter: independent greedy replay matches, radii shrink, populations cover the corpus") {
    val got = Similarity.sampleKcenter(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4)))
      .toSeq
    // independent greedy: plain-scala farthest-point traversal with the
    // same rounded-d² promotion rule
    val vecs = Similarity.vectors(spark, sfDir)
      .select(col("vec_id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def d2(a: Array[Double], b: Array[Double]) = {
      def dot(x: Array[Double], y: Array[Double]) = {
        var s = 0.0; var i = 0
        while (i < x.length) { s += x(i) * y(i); i += 1 }; s
      }
      r4(dot(a, a) - 2.0 * dot(a, b) + dot(b, b))
    }
    val k = got.length
    var centers = Vector((vecs.head._1, vecs.head._2, 0.0))
    val mind = scala.collection.mutable.Map(vecs.map(v => v._1 -> d2(v._2, vecs.head._2)): _*)
    for (_ <- 2 to k) {
      val chosen = centers.map(_._1).toSet
      val nxt = vecs.filterNot(v => chosen(v._1))
        .maxBy(v => (mind(v._1), -v._1))
      centers = centers :+ ((nxt._1, nxt._2, mind(nxt._1)))
      vecs.foreach(v => mind(v._1) = math.min(mind(v._1), d2(v._2, nxt._2)))
    }
    val asg = vecs.map { v =>
      val ds = centers.map(c => d2(v._2, c._2))
      val bd = ds.min
      (ds.indexOf(bd) + 1, bd)
    }
    val brute = centers.zipWithIndex.map { case ((id, _, sd), i) =>
      val mine = asg.filter(_._1 == i + 1)
      (i + 1L, id, sd, mine.length.toLong, mine.map(_._2).max)
    }
    assert(got == brute, s"greedy replay diverged:\n$got\nvs\n$brute")
    // promotion distances never increase (the farthest-point invariant)
    got.drop(1).map(_._3).sliding(2).foreach {
      case Seq(a, b) => assert(a >= b, s"promotion radius grew: $a -> $b")
      case _ =>
    }
    assert(got.map(_._4).sum == vecs.length.toLong, "assignment must cover the corpus")
    assert(got.forall(_._4 > 0L), "an empty cluster means a wasted center")
  }

  test("ivf append: delta lands partitioned by list, merged serving resolves delta probes exactly") {
    import spark.implicits._
    val report = Similarity.ivfAppend(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(report.nonEmpty)
    // every delta id is shifted; assignments reference real lists
    assert(report.forall(_._1 >= 1000000L))
    // the physical delta layout is partitioned by list_id
    val deltaDir = new java.io.File(Tables.scratch(spark, "graft_ivf_delta/lists"))
    val parts = deltaDir.listFiles().filter(_.getName.startsWith("list_id="))
    assert(parts.nonEmpty, "delta not partitioned by list_id")
    assert(parts.map(_.getName.stripPrefix("list_id=").toLong).toSet ==
      report.map(_._2).toSet, "delta partitions disagree with the assignment report")
    // merge-on-read serving: base ∪ delta; a delta vector probing its own
    // assigned list must come back as the exact top-1 (cos = 1 with itself)
    val (listsPath, _) = Similarity.ivfIndex(spark, sfDir)
    val cols = Seq("vec_id", "list_id", "v", "nrm").map(col)
    val merged = Similarity.ivfLists(spark, listsPath).select(cols: _*)
      .unionByName(spark.read.parquet(deltaDir.toString)
        .withColumn("list_id", col("list_id").cast("int")).select(cols: _*))
    val probes = spark.read.parquet(deltaDir.toString)
      .select(col("vec_id"), col("list_id").cast("int").as("list_id"), col("v"), col("nrm"))
      .orderBy(col("vec_id")).limit(3).collect()
    probes.foreach { p =>
      val (pid, plist, pv, pn) =
        (p.getLong(0), p.getInt(1), p.getSeq[Double](2), p.getDouble(3))
      val top = merged.filter(col("list_id") === plist)
        .withColumn("cos", Vec.dot(col("v"), typedLit(pv)) / (col("nrm") * lit(pn)))
        .orderBy(col("cos").desc, col("vec_id"))
        .select(col("vec_id")).limit(1).collect().head.getLong(0)
      assert(top == pid, s"probe $pid not resolved from the merged lists (got $top)")
    }
  }

  test("silhouette: brute centroid-margin replay agrees and clusters match the IVF assignment") {
    val got = Similarity.embSilhouette(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getInt(5))).toSeq
    // brute replay: label-mean centroids, full cosine ranking per vector
    val vecs = Similarity.vectors(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2)))
    val cents = vecs.groupBy(_._2).view.mapValues { g =>
      val dims = g.head._3.length
      (0 until dims).map(i => g.map(_._3(i)).sum / g.length)
    }.toMap
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val dot = a.zip(b).map(p => p._1 * p._2).sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.nonEmpty && got.length == vecs.length)
    got.foreach { case (id, cluster, own, next, margin, confident) =>
      val v = vecs.find(_._1 == id).get._3
      val ranked = cents.toSeq.map { case (l, c) => (l, cos(v, c)) }
        .sortBy { case (l, s) => (-s, l) }
      assert(cluster == ranked.head._1, s"vec $id cluster ${ranked.head._1} != $cluster")
      assert(math.abs(own - r4(ranked.head._2)) <= 1e-4, s"vec $id own cosine")
      assert(math.abs(next - r4(ranked(1)._2)) <= 1e-4, s"vec $id runner-up cosine")
      assert(margin == r4(own - next) && margin >= 0.0, s"vec $id margin shape")
      assert(confident == (if (margin >= 0.05) 1 else 0), s"vec $id flag")
    }
    // consistency: the silhouette's own-cluster IS the IVF list assignment
    val asg = Similarity.listAssignments(spark,
        Similarity.vectors(spark, sfDir),
        Similarity.trainQuantizer(Similarity.vectors(spark, sfDir)))
      .collect().map(r => (r.getLong(0), r.getInt(3))).toMap
    got.foreach { case (id, cluster, _, _, _, _) =>
      assert(asg(id) == cluster, s"vec $id: silhouette cluster != IVF list")
    }
    // the readout is non-degenerate: both confident and thin-margin
    // vectors exist in the corpus
    assert(got.exists(_._6 == 1) && got.exists(_._6 == 0),
      "margin distribution degenerate — threshold tells nothing")
  }

  test("lof: integer chain replays exactly and the planted sparse satellite alone flags") {
    import spark.implicits._
    // dense clique 1..6 (mutual distance 100) + satellite 9 whose
    // neighbors are the clique at distance 2000 — classic LOF shape:
    // the satellite's local density is ~20x below its neighbors'
    val clique = for { a <- 1L to 6L; b <- 1L to 6L if a != b } yield (a, b, 100L)
    val sat = (1L to 5L).map(b => (9L, b, 2000L))
    val knn = (clique ++ sat).toDF("vec_id", "nbr_id", "d")
    val got = Similarity.lofFromKnn(knn, 1300000L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getInt(5))).toSeq
    // exact integer replay
    val rows = clique ++ sat
    val kd = rows.groupBy(_._1).view.mapValues(g =>
      (g.map(_._3).max, g.size.toLong)).toMap
    val lrd = rows.groupBy(_._1).view.mapValues { g =>
      val s = g.map(e => math.max(kd(e._2)._1, e._3)).sum
      kd(g.head._1)._2 * 1000000L / math.max(s, 1L)
    }.toMap
    val brute = rows.groupBy(_._1).toSeq.map { case (id, g) =>
      val sl = g.map(e => lrd(e._2)).sum
      val lof = sl * 1000000L / (kd(id)._2 * math.max(lrd(id), 1L))
      (id, kd(id)._2, kd(id)._1, lrd(id), lof, if (lof > 1300000L) 1 else 0)
    }.sortBy(_._1)
    assert(got == brute, s"lof replay diverged:\n$got\nvs\n$brute")
    // exactly the satellite flags; clique members sit at LOF ~ 1
    assert(got.filter(_._6 == 1).map(_._1) == Seq(9L), s"wrong outlier set: $got")
    assert(got.filter(_._1 <= 6L).forall(t => t._5 < 1100000L),
      "clique members must not approach the outlier bar")
    // and the corpus op is deterministic with the documented shape
    val corpus = Similarity.embLof(spark, sfDir).collect()
    assert(corpus.nonEmpty && corpus.map(_.getLong(0)).distinct.length == corpus.length)
  }

  test("ann recall: exhaustive probing recalls perfectly, partial probing matches a brute replay") {
    // probing EVERY list is brute force — recall must be exactly 1.0
    val nLists = Similarity.trainQuantizer(Similarity.vectors(spark, sfDir)).length
    val full = Similarity.annRecall(spark, sfDir, k = 10, nprobe = nLists)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(full.nonEmpty)
    // the probe set is a FIXED SIZE (the nProbes parameter), never a
    // corpus fraction — the truth pass must stay O(nProbes × corpus) at
    // any scale, and the md5 draw is the deterministic pick rule
    assert(full.length == 10, s"probe set must be exactly nProbes=10: ${full.length}")
    assert(Similarity.annRecall(spark, sfDir, k = 10, nprobe = nLists, nProbes = 7)
      .count() == 7L, "nProbes must bound the probe set")
    assert(full.forall(t => t._2 == 10L && t._3 == 1000000L),
      s"exhaustive probe must be perfect: $full")
    // partial probing: replay truth and the probed candidate set by hand
    val got = Similarity.annRecall(spark, sfDir, k = 10, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val vecs = Similarity.vectors(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](2)))
    val cents = Similarity.trainQuantizer(Similarity.vectors(spark, sfDir))
    val asg = Similarity.listAssignments(spark,
        Similarity.vectors(spark, sfDir), cents)
      .collect().map(r => (r.getLong(0), r.getInt(3))).toMap
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val d = a.zip(b).map(p => p._1 * p._2).sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    got.foreach { case (qid, nHits, ppm) =>
      val qv = vecs.find(_._1 == qid).get._2
      def topk(pool: Seq[(Long, Seq[Double])]) = pool
        .filter(_._1 != qid)
        .map { case (id, v) => (id, r4(cos(v, qv))) }
        .sortBy { case (id, s) => (-s, id) }.take(10).map(_._1).toSet
      val truth = topk(vecs.toSeq)
      val probed = cents.map { case (l, cv) => (l, cos(qv, cv)) }
        .sortBy { case (l, s) => (-s, l) }.take(2).map(_._1).toSet
      val ann = topk(vecs.toSeq.filter(v => probed(asg(v._1))))
      assert(nHits == (truth & ann).size.toLong, s"query $qid hits")
      assert(ppm == nHits * 1000000L / 10L, s"query $qid ppm arithmetic")
    }
    // partial probing genuinely loses something somewhere (else the
    // report measures nothing)
    assert(got.exists(_._2 < 10L), "nprobe=2 lost no neighbor anywhere — degenerate")
  }

  test("ann recall curve: per-query monotone in nprobe, sweep points equal standalone F79 runs") {
    val curve = Similarity.annRecallCurve(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val pts = Seq(1, 2, 3, 5, 8)
    assert(curve.map(_._1).distinct.sorted == pts, "sweep points")
    assert(curve.length == pts.length * 10, "10 probe queries per point")
    // the curve IS a curve: widening the probe set can only add
    // candidates, so per-query hits are monotone non-decreasing
    curve.groupBy(_._2).foreach { case (qid, rows) =>
      val byP = rows.sortBy(_._1).map(_._3)
      assert(byP.zip(byP.tail).forall(p => p._1 <= p._2),
        s"query $qid recall not monotone in nprobe: $byP")
    }
    // every sweep point must equal the standalone F79 report at that
    // nprobe — the curve is a packaging of the same measurement, not a
    // second implementation
    pts.foreach { p =>
      val solo = Similarity.annRecall(spark, sfDir, nprobe = p).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val slice = curve.filter(_._1 == p).map(t => (t._2, t._3, t._4)).toSet
      assert(slice == solo, s"nprobe=$p slice diverged from ann_recall")
    }
    // the knob matters on the corpus: the widest probe strictly beats
    // the narrowest in total hits (else the report measures nothing)
    val tot = curve.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(tot(1) < tot(8), s"curve is flat 1→8: $tot")
  }

  test("pq tuning curve: bounded hits, finer sub-codes win on the corpus, deterministic") {
    val curve = Similarity.annPqCurve(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val pts = Seq(4, 8, 16)
    assert(curve.map(_._1).distinct.sorted == pts, "sweep points")
    assert(curve.length == pts.length * 10, "10 probe queries per point")
    curve.foreach { case (n, qid, hits, ppm) =>
      assert(hits >= 0L && hits <= 10L, s"nsub=$n probe $qid: hits $hits out of range")
      assert(ppm == hits * 1000000L / 10L, s"nsub=$n probe $qid: ppm arithmetic")
    }
    // quantization distortion falls with sub-code count: 16 subspaces
    // must strictly beat 4 in total retained truth on the corpus (the
    // knob's whole point; measured 0.20 vs 0.52 mean recall at sf0.01)
    val tot = curve.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(tot(4) < tot(16), s"finer codes did not help: $tot")
    // deterministic end to end (fixed probe draw, first-argmin codes,
    // rounded ADC ranks): a second run is row-identical
    val again = Similarity.annPqCurve(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(curve == again, "pq curve not deterministic across runs")
  }

  test("purity: majority rollup replays from the shared assignment, partitions the corpus, bounded below") {
    val got = Similarity.embPurity(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    val asg = Similarity.kmeansAssign(spark, sfDir)
      .select("vec_id", "c_label").collect().map(r => (r.getLong(0), r.getInt(1)))
    val labels = Similarity.vectors(spark, sfDir)
      .select("vec_id", "label").collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val brute = asg.groupBy(_._2).map { case (c, vs) =>
      val lc = vs.map(v => labels(v._1).toLong).groupBy(identity)
        .map { case (l, g) => (l, g.size.toLong) }
      val (ml, mc) = lc.toSeq.minBy { case (l, n) => (-n, l) } // count DESC, smaller label
      (c.toLong, vs.size.toLong, ml, mc, mc * 1000000L / vs.size)
    }.toSeq.sortBy(_._1)
    assert(got.nonEmpty && got == brute, "purity must replay from the shared assignment")
    assert(got.map(_._2).sum == labels.size, "clusters must partition the corpus")
    got.foreach { case (c, n, _, nm, ppm) =>
      assert(nm >= 1L && nm <= n && ppm == nm * 1000000L / n && ppm <= 1000000L,
        s"cluster $c: purity bounds broken ($n, $nm, $ppm)")
    }
  }

  test("kmeans: independent Lloyd replay (rounded centroids, small-id ties) matches exactly") {
    val got = Similarity.kmeans(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val vecs = Similarity.vectors(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2).toArray))
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos(a: Array[Double], b: Array[Double]) = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0; while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    def mean(g: Seq[Array[Double]]) = {
      val dims = g.head.length
      Array.tabulate(dims)(i => r4(g.map(_(i)).sum / g.length))
    }
    // round 0: label means; two Lloyd rounds; final assignment + report
    var cents: Map[Int, Array[Double]] =
      vecs.groupBy(_._2).view.mapValues(g => mean(g.map(_._3).toSeq)).toMap
    def assign(cs: Map[Int, Array[Double]]) = vecs.map { case (id, _, v) =>
      val best = cs.toSeq.map { case (l, c) => (l, cos(v, c)) }
        .minBy { case (l, s) => (-s, l) }._1
      (id, best, v)
    }
    for (_ <- 1 to 2) {
      val asg = assign(cents)
      cents = asg.groupBy(_._2).view.mapValues(g => mean(g.map(_._3).toSeq)).toMap
    }
    val fin = assign(cents)
    val exp = fin.groupBy(_._2).map { case (l, g) =>
      (l.toLong, g.length.toLong,
        r4(g.map { case (_, _, v) => cos(v, cents(l)) }.sum / g.length))
    }.toSeq.sortBy(_._1)
    assert(got == exp, s"engine ${got.take(3)} vs replay ${exp.take(3)}")
    assert(got.map(_._2).sum == vecs.length.toLong, "every vector assigned once")
    // the rounds genuinely move assignments off the initial label split
    val moved = fin.count { case (id, l, _) => vecs.find(_._1 == id).get._2 != l }
    assert(moved > 0, "two Lloyd rounds changed no assignment — degenerate wire")
  }
}
