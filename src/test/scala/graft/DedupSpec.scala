package graft

import graft.functions.SimHash64
import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Property specs for the non-SQL-expressible dedup ops (SURVEY F4/F5). */
class DedupSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def simhashOf(texts: Seq[String]): Seq[Long] = {
    val df = texts.toDF("text")
    df.select(SimHash64.simhash64(spark,
      filter(split(lower(col("text")), "\\s+"), t => length(t) > 0)).as("h"))
      .collect().map(_.getLong(0)).toSeq
  }

  private def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  test("simhash: identical docs get identical hashes") {
    val Seq(a, b) = simhashOf(Seq("the quick brown fox", "the quick brown fox"))
    assert(a == b)
  }

  test("simhash: token order does not matter") {
    val Seq(a, b) = simhashOf(Seq("alpha beta gamma delta", "delta gamma beta alpha"))
    assert(a == b)
  }

  test("simhash: near-identical docs land at small hamming distance") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val near = base + " extraword"
    val far = (1 to 60).map(i => s"other$i").mkString(" ")
    val Seq(hBase, hNear, hFar) = simhashOf(Seq(base, near, far))
    assert(hamming(hBase, hNear) < 12, s"near dist=${hamming(hBase, hNear)}")
    assert(hamming(hBase, hFar) > hamming(hBase, hNear))
  }

  test("lsh recall: exact duplicates can never be missed, hits bounded by truth, probe count pinned") {
    // 30 distinct docs plus exact duplicates of the first ten — a pair
    // agreeing on ALL 32 signature components collides in EVERY band, so
    // the screen provably cannot miss it
    def text(i: Long) = (1 to 12).map(w => s"tok${i}x$w word$w").mkString(" ")
    val docs = ((1L to 30L).map(i => (i, text(i))) ++
      (1L to 10L).map(i => (100L + i, text(i))))
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup.lshRecallOf(docs, nProbes = 40)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(got.length == 40, "probe frame must be exactly nProbes")
    got.foreach { case (qid, nTrue, nHits, ppm) =>
      assert(nHits <= nTrue, s"probe $qid: hits exceed truth")
      // a probe with an exact twin has the twin in its truth set, and
      // the banding MUST surface it: recall can never be 0 there
      val base = if (qid > 100L) qid - 100L else qid
      if (base <= 10L) {
        assert(nTrue >= 1L, s"probe $qid: exact twin missing from truth")
        assert(nHits >= 1L && ppm > 0L,
          s"probe $qid: banding missed an exact duplicate")
      }
    }
    // probes are every doc here (40 = corpus), so the ten twin pairs are
    // symmetric: both ends report the same counts
    val byId = got.map(t => t._1 -> t).toMap
    (1L to 10L).foreach { i =>
      assert(byId(i)._2 == byId(100L + i)._2,
        s"twin pair $i: asymmetric truth")
    }
  }

  test("lsh recall curve: monotone in band count, 8-band slice equals standalone F98") {
    val curve = graft.operators.Dedup.lshRecallCurve(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4))).toSeq
    val pts = Seq(4, 8, 16)
    assert(curve.map(_._1).distinct.sorted == pts, "sweep points")
    assert(curve.length == pts.length * 20, "20 probe docs per point")
    // truth is band-independent: n_true identical across sweep points
    curve.groupBy(_._2).foreach { case (qid, rows) =>
      assert(rows.map(_._3).distinct.length == 1,
        s"probe $qid: truth varies with bands")
      // narrower bands (more of them) can only ADD collisions: a pair
      // agreeing on a width-8 band agrees on both its width-4 halves and
      // all four width-2 quarters — hits monotone non-decreasing in bands
      val byB = rows.sortBy(_._1).map(_._4)
      assert(byB.zip(byB.tail).forall(p => p._1 <= p._2),
        s"probe $qid: hits not monotone in bands: $byB")
    }
    // the 8-band point must equal the standalone F98 report — the curve
    // is a packaging of the same measurement, not a second implementation
    val solo = graft.operators.Dedup.lshRecall(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    val slice8 = curve.filter(_._1 == 8).map(t => (t._2, t._3, t._4, t._5)).toSet
    assert(slice8 == solo, "bands=8 slice diverged from dedup_lsh_recall")
    // the knob matters on the corpus: 16 narrow bands strictly beat 4
    // wide ones in total hits (else the curve measures nothing)
    val tot = curve.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap
    assert(tot(4) < tot(16), s"curve is flat 4→16: $tot")
  }

  test("lsh recall curve: an all-identical corpus saturates every banding at exactly 1.0") {
    // identical text ⇒ identical 32-perm signatures ⇒ every band of any
    // width collides and every pair is truth — the curve must read
    // exactly 1.0 at all three band counts (a hostile layout where any
    // off-by-one in slicing or the agreement filter shows immediately)
    val docs = (1L to 25L).map(i => (i, "the same text for every doc " * 3))
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup.lshRecallCurveOf(docs, nProbes = 10)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4)))
    assert(got.length == 30, "3 sweep points x 10 probes")
    got.foreach { case (b, qid, nTrue, nHits, ppm) =>
      assert(nTrue == 24L && nHits == 24L && ppm == 1000000L,
        s"bands=$b probe $qid: $nTrue/$nHits/$ppm — saturation broken")
    }
  }

  test("minhash signature estimates jaccard within tolerance") {
    // two docs sharing ~half their shingles
    val shared = (1 to 40).map(i => s"w$i").mkString(" ")
    val d1 = shared + " " + (1 to 20).map(i => s"a$i").mkString(" ")
    val d2 = shared + " " + (1 to 20).map(i => s"b$i").mkString(" ")
    val df = Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.functions.ShingleHashes.shingleHashes(spark, col("text")).as("sh"))
    val sigs = df.select(Dedup.minhashSignature(col("sh")).as("sig"))
      .collect().map(_.getSeq[Long](0))
    val est = sigs(0).zip(sigs(1)).count { case (x, y) => x == y }.toDouble / sigs(0).size
    val sets = Seq(d1, d2).map(t => (1 to t.length - 2).map(i => t.substring(i - 1, i + 2)).toSet)
    val trueJ = sets(0).intersect(sets(1)).size.toDouble / sets(0).union(sets(1)).size
    assert(math.abs(est - trueJ) < 0.25, s"est=$est true=$trueJ")
  }

  test("jaccard size-prefilter rule fires and preserves results") {
    val df = Dedup.ngramJaccard(spark, sfDir)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("size("), s"rule did not fire:\n$optimized")
    // the rule is a pure prefilter: pair set must be identical to the
    // predicate's ground truth (checked against the oracle separately;
    // here: stable row count and threshold)
    val rows = df.collect()
    assert(rows.forall(_.getDouble(3) >= 0.82))
  }

  test("winnowing: identical docs share all fingerprints; shared substrings guarantee overlap") {
    import graft.functions.WinnowFingerprints.winnowFingerprints
    val base = "the quick brown fox jumps over the lazy dog again and again tonight"
    val shifted = "PREFIX added here! " + base
    val other = "11111 22222 33333 44444 55555 66666 77777 88888 99999 00000"
    val rows = Seq(base, base, shifted, other).toDF("text")
      .select(winnowFingerprints(spark, col("text")).as("f"))
      .collect().map(_.getSeq[Long](0).toSet)
    assert(rows(0) == rows(1))                       // deterministic
    assert(rows(0).intersect(rows(2)).nonEmpty)      // long shared substring -> shared fp
    assert(rows(0).intersect(rows(3)).isEmpty)       // disjoint text -> disjoint fps
    assert(rows(0).nonEmpty)
  }

  test("winnow df-cap: shared boilerplate across 50 docs stays sub-quadratic") {
    // 50 docs = one shared boilerplate paragraph + a unique tail; without
    // the df cap every pair shares the boilerplate fingerprints (f² join
    // rows — the classic winnowing scale failure)
    import graft.functions.WinnowFingerprints.winnowFingerprints
    val boiler = "this content is licensed under the example public license " +
      "version two see the accompanying file for the full text of the license"
    val docs = (1L to 50L).map(i => (i, s"$boiler unique$i tail$i marker$i"))
      .toDF("doc_id", "text")
    val fps = docs.select(col("doc_id"), winnowFingerprints(spark, col("text")).as("fps"))
    val uncapped = Dedup.winnowSummary(fps, minShared = 5, dfCap = Int.MaxValue)
      .agg(sum("n_candidates")).head().getLong(0)
    val capped = Dedup.winnowSummary(fps, minShared = 5, dfCap = 10)
      .agg(sum("n_candidates")).head().getLong(0)
    assert(uncapped == 50L * 49L, s"expected full quadratic blowup, got $uncapped")
    assert(capped == 0L, s"df cap failed to drop boilerplate fps: $capped")
  }

  test("winnow df-cap: capped candidates are a subset, coverage is per-doc complete") {
    // the synthetic docs corpus is heavily templated (fingerprints shared
    // by up to ~80% of docs), so the cap DOES prune template fps there —
    // by design: MOSS treats ultra-common fingerprints as boilerplate.
    // Surviving candidates must be a subset of the uncapped pair set, and
    // the per-doc summary always covers every doc.
    def pairs(cap: Int) = Dedup.winnowDedup(spark, sfDir, dfCap = cap)
      .filter(col("n_candidates") > 0).select("doc_id").collect().map(_.getLong(0)).toSet
    val capped = pairs(64)
    val uncapped = pairs(Int.MaxValue)
    assert(capped.subsetOf(uncapped))
    assert(Dedup.winnowDedup(spark, sfDir).count() ==
      Tables(spark, sfDir).documents.count())
  }

  test("simhash 4-band candidates exactly match brute-force hamming<=3") {
    // pigeonhole: hamming <= 3 flips at most 3 of 4 bands, so one band
    // survives intact -> banded recall for the verified pair set is 1.0
    val sh = Tables(spark, sfDir).documents
      .select(col("doc_id"),
        SimHash64.simhash64(spark,
          graft.operators.TextAnalysis.tokens(col("text"))).as("simhash"))
    val banded = Dedup.simhashPairs(sh, maxHamming = 3)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hashes = sh.collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (i1, h1) <- hashes; (i2, h2) <- hashes
      if i1 < i2 && java.lang.Long.bitCount(h1 ^ h2) <= 3
    } yield (i1, i2)).toSet
    assert(banded == brute, s"banded=${banded.size} brute=${brute.size}")
  }

  test("connected components: chains, stars, cycles and singletons converge to min labels") {
    // chain 1-2-3-4-5 (diameter 4, needs multi-round propagation),
    // star 10-{11,12,13}, cycle 20-21-22-20, singleton 30
    val nodes = (Seq(1L, 2L, 3L, 4L, 5L, 10L, 11L, 12L, 13L, 20L, 21L, 22L, 30L))
      .toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (10L, 12L), (10L, 13L),
      (20L, 21L), (21L, 22L), (22L, 20L)).toDF("d1", "d2")
    val labels = Dedup.connectedComponents(nodes, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L, 5L).forall(labels(_) == 1L), s"chain: $labels")
    assert(Seq(10L, 11L, 12L, 13L).forall(labels(_) == 10L), s"star: $labels")
    assert(Seq(20L, 21L, 22L).forall(labels(_) == 20L), s"cycle: $labels")
    assert(labels(30L) == 30L, "singleton keeps its own label")
  }

  test("connected components: a 200-node path converges in O(log n) star rounds") {
    // the r2 min-label solver needed O(diameter) rounds — a 200-hop path
    // would blow its maxIter=50 and ABORT; the star alternation closes it
    // in O(log n). 2·log₂(200) ≈ 15.3 → bound 16 rounds.
    val n = 200
    val nodes = (1L to n.toLong).toDF("doc_id")
    val pairs = (1L until n.toLong).map(i => (i, i + 1)).toDF("d1", "d2")
    val (labelsDf, rounds) = Dedup.starLabels(nodes, pairs)
    val labels = labelsDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == n && labels.values.forall(_ == 1L),
      s"path graph must collapse to one component labeled 1: $labels")
    assert(rounds <= 16,
      s"star alternation took $rounds rounds on a $n-node path (O(log n) bound: 16)")
    // the hybrid front door with a tightened propagation budget:
    // 8 rounds can't close a 200-hop chain, so this exercises the
    // contract-and-star phase plus the label composition (the r16
    // solver ABORTED on this shape)
    val hybrid = Dedup.connectedComponents(nodes, pairs, propRounds = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hybrid.size == n && hybrid.values.forall(_ == 1L),
      "hybrid solver must compose propagation + star labels exactly")
  }

  test("connected components: random graphs match a brute-force union-find") {
    val rng = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 120
      val edges = Seq.fill(90)((rng.nextInt(n).toLong + 1, rng.nextInt(n).toLong + 1))
        .filter { case (a, b) => a != b }
      // brute-force union-find oracle
      val parent = Array.tabulate(n + 1)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = (1 to n).map(i => i.toLong -> find(i).toLong).toMap
      val got = Dedup.connectedComponents(
          (1L to n.toLong).toDF("doc_id"), edges.toDF("d1", "d2"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"trial $trial diverged from union-find")
    }
  }

  test("incremental dedup classifies corpus hits, batch-internal dups, and novel docs") {
    // corpus precedence over batch-internal: a fp in BOTH is dup_of_corpus
    // for every batch holder; within the batch, the lowest doc_id wins
    val corpus = Seq((1L, "fpA"), (2L, "fpB")).toDF("doc_id", "fp")
    val batch = Seq(
      (10L, "fpA"),              // corpus hit
      (11L, "fpC"), (12L, "fpC"), // batch-internal: 11 novel, 12 dup
      (13L, "fpD"),              // novel
      (14L, "fpB"), (15L, "fpB")) // corpus hit BOTH (not dup_in_batch)
      .toDF("doc_id", "fp")
    val out = graft.operators.Dedup.classifyBatch(corpus, batch).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out == Map(10L -> "dup_of_corpus", 11L -> "novel", 12L -> "dup_in_batch",
      13L -> "novel", 14L -> "dup_of_corpus", 15L -> "dup_of_corpus"), out.toString)
  }

  test("incremental dedup with a caller-supplied cardinality stays lazy and classifies identically") {
    // steady state at scale: the corpus count is persisted beside the
    // corpus (or comes from catalog stats), so sizing the bloom must not
    // cost an eager per-batch pass over the corpus — construction runs
    // ZERO jobs, and the classification is the same as the measured path
    val corpus = Seq((1L, "fpA"), (2L, "fpB")).toDF("doc_id", "fp")
    val batch = Seq((10L, "fpA"), (11L, "fpC"), (12L, "fpC"), (13L, "fpD"))
      .toDF("doc_id", "fp")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(): Unit
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val (df, constructionJobs) = try {
      val d = Dedup.classifyBatch(corpus, batch, corpusFpEstimate = Some(2L))
      Thread.sleep(1000) // listener bus is async; let JobStart events drain
      (d, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(constructionJobs == 0,
      s"classifyBatch with a known cardinality ran $constructionJobs eager jobs at construction")
    val out = df.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out == Map(10L -> "dup_of_corpus", 11L -> "novel",
      12L -> "dup_in_batch", 13L -> "novel"), out.toString)
  }

  test("incremental dedup never broadcasts the corpus fingerprint set") {
    // a production corpus is billions of fps — the broadcast budget models
    // that: with auto-broadcast off, ANY corpus-side broadcast in the plan
    // would be an explicit hint (the bug this spec guards against). The
    // only broadcast allowed is the single fixed-size bloom row.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // corpus: fps of 0..4999; batch: ids 0..99 with fp of (id*100) →
      // ids < 50 hit the corpus, 50..99 are novel; plus one planted
      // batch-internal dup pair on an out-of-corpus fp
      val corpus = spark.range(0, 5000)
        .selectExpr("id as doc_id", "md5(cast(id as string)) as fp")
      val batch = spark.range(0, 100)
        .selectExpr("id + 100000 as doc_id", "md5(cast(id * 100 as string)) as fp")
        .union(Seq((200001L, "zz_batch_only"), (200002L, "zz_batch_only"))
          .toDF("doc_id", "fp"))
      val out = Dedup.classifyBatch(corpus, batch)
      val counts = out.groupBy("status").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts == Map("dup_of_corpus" -> 50L, "novel" -> 51L, "dup_in_batch" -> 1L),
        counts.toString)
      val p = out.queryExecution.executedPlan.toString
      // the exact-verify join must be a shuffle join — a BroadcastHashJoin
      // here means the corpus fp set itself was broadcast
      assert(!p.contains("BroadcastHashJoin"),
        s"corpus fingerprint set was broadcast into the verify join:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"exact-verify join is not a shuffle join:\n$p")
      // bloom prefilter present: the screen predicate reaches the plan
      assert(p.contains("bloom_agg"), s"no bloom screen in the plan:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("corpus-cardinality cache: stamp hit skips the scan, corpus change re-measures") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_card").toFile
    // the same table as one file, and as one leaf below a partition dir:
    // rewriting that leaf leaves every entry of the table's top level as is
    val layouts = Seq("corpus" -> "documents.parquet",
      "nested" -> "documents.parquet/lang=en/part-0.parquet").map { case (d, leaf) =>
      val docFile = new java.io.File(tmp, s"$d/$leaf")
      docFile.getParentFile.mkdirs()
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sfDir/documents.parquet"), docFile.toPath)
      (new java.io.File(tmp, d), docFile)
    }
    spark.conf.set("graft.scratch.root", tmp.getPath)
    try layouts.foreach { case (corpusDir, docFile) =>
      var computes = 0
      def call() = Dedup.cachedCorpusEstimate(spark, corpusDir.getPath, { computes += 1; 777L })
      assert(call() == 777L && computes == 1, "first call must measure")
      assert(call() == 777L && computes == 1, "stamp hit must NOT re-measure")
      // corpus changed (stamp = name:length:mtime) → one re-measure
      assert(docFile.setLastModified(docFile.lastModified() + 5000))
      assert(call() == 777L && computes == 2, "stamp break must re-measure once")
      assert(call() == 777L && computes == 2)
    } finally {
      spark.conf.unset("graft.scratch.root")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(): Unit
      }
      rm(tmp)
    }
  }

  test("substring spans: witnesses merge to maximal extents, within-doc repeats split, unique docs report nothing") {
    def words(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ")
    val shared10 = words("dup", 10)          // 10 shared words → 3 8-gram witnesses
    val repeat8 = words("rep", 8)            // 8 shared words → 1 witness
    val docs = Seq(
      // A and B share a 10-word prefix, then diverge into unique tails
      (1L, s"$shared10 ${words("taila", 20)}"),
      (2L, s"$shared10 ${words("tailb", 20)}"),
      // C repeats the same 8 words at positions 1 and 21 (within-doc dup)
      (3L, s"$repeat8 ${words("mid", 12)} $repeat8"),
      // D is fully unique: must not appear at all
      (4L, words("uniq", 30))).toDF("doc_id", "text")
    val spans = Dedup.substringSpans(docs, k = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // A/B: the three overlapping witnesses (p=1,2,3) merge into ONE
    // maximal 10-word span [1,10]
    assert(spans.filter(_._1 == 1L).toSeq == Seq((1L, 1L, 10L, 10L, 3L)))
    assert(spans.filter(_._1 == 2L).toSeq == Seq((2L, 1L, 10L, 10L, 3L)))
    // C: the two occurrences are 12 words apart — two SEPARATE spans of
    // exactly the repeated 8 words
    assert(spans.filter(_._1 == 3L).toSeq ==
      Seq((3L, 1L, 8L, 8L, 1L), (3L, 21L, 28L, 8L, 1L)))
    assert(!spans.exists(_._1 == 4L), "unique doc must produce no spans")
    // full-doc duplicate: docs 10/11 are identical 16-word docs — all
    // nine witnesses (p=1..9) chain into one maximal span [1,16]
    val abut = Seq(
      (10L, s"$repeat8 ${words("also", 8)}"),
      (11L, s"$repeat8 ${words("also", 8)}")).toDF("doc_id", "text")
    val merged = Dedup.substringSpans(abut, k = 8).collect()
    assert(merged.length == 2 && merged.forall(r =>
      r.getLong(1) == 1L && r.getLong(2) == 16L && r.getLong(4) == 9L))
  }

  test("fingerprint dedup collapses reordered near-duplicates") {
    val fp = (c: org.apache.spark.sql.Column) =>
      md5(array_join(array_sort(array_distinct(
        filter(split(lower(c), "\\s+"), t => length(t) > 0))), " ").cast("binary"))
    val rows = Seq("one two three", "three  two one", "ONE two   three", "four five six")
      .toDF("text").select(fp(col("text")).as("f")).collect().map(_.getString(0))
    assert(rows(0) == rows(1) && rows(1) == rows(2))
    assert(rows(0) != rows(3))
  }

  test("url canonicalization: each identity rule normalizes, non-tracking params survive sorted") {
    val cases = Seq(
      // scheme/case/default-port/trailing-slash variants of one resource
      ("https://Data1.Example.org/a/b", "data1.example.org/a/b"),
      ("HTTP://DATA1.EXAMPLE.ORG:80/a/b/", "data1.example.org/a/b"),
      ("https://www.data1.example.org:443/a/b", "data1.example.org/a/b"),
      ("https://data1.example.org/a/b#frag", "data1.example.org/a/b"),
      // tracking params drop, the rest sort; empty query collapses
      ("https://h.org/p?utm_source=x&b=2&a=1", "h.org/p?a=1&b=2"),
      ("https://h.org/p?a=1&gclid=zz&b=2", "h.org/p?a=1&b=2"),
      ("https://h.org/p?utm_campaign=x&fbclid=1", "h.org/p"),
      // root path and a non-default port are identity-relevant
      ("https://h.org/", "h.org"),
      ("https://h.org:8080/p", "h.org:8080/p"))
    val got = cases.map(_._1).toDF("url")
      .select(graft.operators.Dedup.canonicalUrl(col("url"))).collect().map(_.getString(0))
    cases.map(_._2).zip(got).foreach { case (want, g) => assert(g == want, s"$g != $want") }
    // op-level variant structure: in each even key-group the three
    // variants (bare/case+port+slash/www+tracking) merge to ONE canonical;
    // odd groups split 1 bare + 2 param-carrying
    val out = graft.operators.Dedup.dedupUrl(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nSupp = spark.read.parquet(s"$sfDir/supplier.parquet").count()
    assert(out.values.sum == nSupp, "every wire URL must be accounted for")
    assert(out("data0.example.org/files/set0/item") == 3L)
    assert(out("data1.example.org/files/set1/item") == 1L)
    assert(out("data1.example.org/files/set1/item?a=1&b=2") == 2L)
  }

  test("paragraph dedup matches a brute-force chunk replay and keeps exactly one copy per chunk") {
    val W = 20
    val got = graft.operators.Dedup.dedupParagraph(spark, sfDir, W).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got.nonEmpty)
    // independent replay from the raw table
    val raw = Tables(spark, sfDir).documents
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val occs = raw.flatMap { case (id, text) =>
      val wired = if (id % 7 == 0)
        graft.operators.Dedup.ParagraphBoiler + " " + text else text
      wired.split(" ", -1).grouped(W).zipWithIndex
        .map { case (ws, i) => (id, i.toLong, ws.mkString(" ")) }
        .filter(_._3.nonEmpty)
    }
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val hashed = occs.map { case (id, i, c) => (id, i, md5hex(c)) }
    val byHash = hashed.groupBy(_._3)
    val keeper = byHash.view.mapValues(_.map(o => o._1 * 1000000L + o._2).min).toMap
    val brute = hashed.groupBy(_._1).map { case (id, os) =>
      val kept = os.filter(o => keeper(o._3) == o._1 * 1000000L + o._2)
      id -> ((os.length.toLong,
        os.count(o => byHash(o._3).length > 1).toLong,
        kept.length.toLong,
        kept.map(o => java.lang.Long.parseLong(o._3.take(8), 16)).sum))
    }
    assert(got == brute, "per-doc report diverged from the brute replay")
    // global invariant: kept copies == distinct chunk texts
    assert(got.values.map(_._3).sum == byHash.size.toLong)
    // the corpus must actually exercise the interesting branch
    assert(got.values.map(_._2).sum > 0L, "no duplicated chunks in corpus — vacuous test")
  }

  test("soft dedup: all-unique docs weigh 1e6 ppm, boilerplate carriers drop, hard pass agrees") {
    val soft = graft.operators.Dedup.dedupSoft(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val hard = graft.operators.Dedup.dedupParagraph(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(soft.keySet == hard.keySet)
    soft.foreach { case (id, (nChunks, ppm, eff)) =>
      val (hardChunks, nDup) = hard(id)
      assert(nChunks == hardChunks, s"doc $id chunk counts diverge across F49/F50")
      assert(eff == nChunks * ppm, s"doc $id effective size is not n*weight")
      // weight semantics: 1e6 iff the doc shares no chunk with anyone
      if (nDup == 0L) assert(ppm == 1000000L, s"doc $id unique but ppm=$ppm")
      else assert(ppm < 1000000L, s"doc $id has $nDup shared chunks but full weight")
    }
    // the planted boilerplate must depress every 7th doc below its peers
    val (boilered, rest) = soft.partition(_._1 % 7 == 0)
    assert(boilered.nonEmpty && rest.nonEmpty)
    val avgOf = (m: Map[Long, (Long, Long, Long)]) =>
      m.values.map(_._2).sum.toDouble / m.size
    assert(avgOf(boilered) < avgOf(rest),
      "boilerplate carriers should average a lower sampling weight")
  }

  test("trim spans: planted shared prefix is cut from both carriers, unique docs pass untouched") {
    import spark.implicits._
    val shared = "s1 s2 s3 s4 s5 s6 s7 s8"
    val t1 = "u1 u2 u3 u4 u5 u6 u7 u8"
    val t2 = "v1 v2 v3 v4 v5 v6 v7 v8"
    val docs = Seq(
      (0L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"), // fully unique
      (1L, s"$shared $t1"),
      (2L, s"$shared $t2"))
    val got = Dedup.trimSpansOf(docs.toDF("doc_id", "text"), k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .map(t => t._1 -> t).toMap
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got(0L) == ((0L, 10L, 0L, 10L, md5("w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"))))
    assert(got(1L) == ((1L, 16L, 8L, 8L, md5(t1))), s"doc1: ${got(1L)}")
    assert(got(2L) == ((2L, 16L, 8L, 8L, md5(t2))), s"doc2: ${got(2L)}")
  }

  test("cluster representatives: rep is the longest member (lowest id on ties), clusters match F19") {
    import org.apache.spark.sql.functions.{col, length}
    val reps = graft.operators.Dedup.dedupSelectRep(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(reps.nonEmpty, "no multi-doc clusters — selection untested")
    // cluster inventory must agree with the registered F19 query
    val f19 = graft.operators.Dedup.dedupComponents(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(reps.map(t => (t._1, t._2)).toMap == f19, "cluster set diverged from F19")
    // independent membership: labels + lengths
    val labels = graft.operators.Dedup.componentLabels(spark, sfDir, 0.82).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val lens = Tables(spark, sfDir).documents
      .select(col("doc_id"), length(col("text")).cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val members = labels.groupBy(_._2)
    reps.foreach { case (comp, nDocs, repDoc, repChars, nDropped) =>
      val mine = members(comp).map(_._1)
      assert(mine.contains(repDoc), s"cluster $comp rep $repDoc not a member")
      assert(nDropped == nDocs - 1)
      val want = mine.maxBy(d => (lens(d), -d))
      assert(repDoc == want && repChars == lens(want),
        s"cluster $comp picked $repDoc, longest-lowest is $want")
    }
  }

  test("containment: an embedded short doc scores 1.0 where Jaccard stays far below the F3 bar") {
    import spark.implicits._
    val words = (0 until 60).map(i => s"w$i")
    val longDoc = words.mkString(" ")                    // 53 distinct 8-grams
    val shortDoc = words.slice(10, 30).mkString(" ")     // 13 grams, all inside longDoc
    val stranger = (0 until 30).map(i => s"z$i").mkString(" ")
    val docs = Seq((1L, longDoc), (2L, shortDoc), (3L, stranger))
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup.containmentOf(docs, 8, 32, 0.5).collect()
    assert(got.length == 1, s"expected exactly the embedded pair: ${got.toSeq}")
    val r = got(0)
    assert((r.getLong(0), r.getLong(1)) == ((1L, 2L)))
    assert((r.getLong(2), r.getLong(3), r.getLong(4)) == ((53L, 13L, 13L)))
    assert(r.getDouble(5) == 1.0, "the whole short doc is covered")
    // the SAME pair under symmetric Jaccard: 13/53 -- invisible to F3's 0.82 bar
    assert(r.getDouble(6) == math.rint(13.0 / 53.0 * 10000) / 10000)
    assert(r.getDouble(6) < 0.5)
  }
}
