package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines (SURVEY §2 F9–F11):
  * quality scoring, heuristic language ID, token counting. All per-row
  * native expressions — shuffle-free, codegen'd, linear at 100 TB.
  */
object TextAnalysis {

  /** Non-empty whitespace tokens of the lowercased text.
    *
    * r17: native kernel ([[graft.functions.TextKernels]]) — the HOF
    * formulation's `filter` lambda evaluated interpreted per element;
    * the kernel is one staying-in-codegen eval per row. Byte-identical
    * output (spec-pinned against [[tokensHof]]). */
  def tokens(c: Column): Column = graft.functions.TextKernels.tokensCol(c)

  /** The original HOF formulation — kept as the kernel's equivalence
    * oracle (TextKernelsSpec pins byte-identity on corpus + edge cases). */
  private[graft] def tokensHof(c: Column): Column =
    filter(split(lower(c), "\\s+"), t => length(t) > 0)

  /** Word n-grams as space-joined strings — ONE builder shared by the
    * contamination screen and the repetition filter (each with a matching
    * hand-written oracle; a single definition keeps op and oracle pairs
    * from drifting apart).
    *
    * r17: native kernel — the `transform` lambda with its per-gram
    * `slice`+`array_join` allocations evaluated interpreted; the kernel
    * builds each gram's bytes once. Byte-identical output (spec-pinned
    * against [[wordGramsHof]]). */
  def wordGrams(toks: Column, n: Int): Column =
    graft.functions.TextKernels.wordGramsCol(toks, n)

  /** The original HOF formulation — the kernel's equivalence oracle. */
  private[graft] def wordGramsHof(toks: Column, n: Int): Column =
    when(size(toks) >= n,
        transform(sequence(lit(1), size(toks) - (n - 1)),
          i => array_join(slice(toks, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))

  private def hits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit): _*)))

  /** F9: document quality scoring — length, word stats, punctuation /
    * stopword ratios, composite score. */
  def quality(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.documents
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_chars_m", length(col("text")).cast("long"))
      .withColumn("n_words", size(col("toks")).cast("long"))
      .withColumn("n_alpha", length(regexp_replace(col("text"), "[^A-Za-z]", "")).cast("long"))
      .withColumn("n_punct", length(regexp_replace(col("text"), "[^.!?,;:]", "")).cast("long"))
      .withColumn("n_stop", hits(col("toks"), Seq("the", "a", "and", "of", "to")).cast("long"))
      .withColumn("avg_word_len",
        round(col("n_alpha").cast("double") / greatest(col("n_words"), lit(1L)), 4))
      .withColumn("punct_ratio",
        round(col("n_punct").cast("double") / greatest(col("n_chars_m"), lit(1L)), 4))
      .withColumn("stop_ratio",
        round(col("n_stop").cast("double") / greatest(col("n_words"), lit(1L)), 4))
      .withColumn("quality_score", round(
        least(col("n_words").cast("double") / 100.0, lit(1.0)) * 0.5 +
          (lit(1.0) - col("punct_ratio")) * 0.3 + col("stop_ratio") * 0.2, 4))
      .select(col("doc_id"), col("n_chars_m"), col("n_words"), col("avg_word_len"),
        col("punct_ratio"), col("stop_ratio"), col("quality_score"))
      .orderBy(col("doc_id"))
  }

  /** F88: FLESCH READING-EASE scoring — the readability member of the
    * filter family: F9 measures surface hygiene and F31 the Gopher
    * structure rules, but neither says whether prose is SIMPLE; corpus
    * curricula (F33) and audience-targeted mixes want the classic
    * 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words) scale
    * (≥90 ≈ 5th grade, ≤30 ≈ academic). Syllables use the standard
    * dictionary-free proxy: vowel-group count per token, floored at 1 —
    * deterministic and engine-portable, unlike a hyphenation model.
    * Sentences count terminator runs ([.!?]+), floored at 1.
    *
    * Determinism: the three counts are exact integers from the shared
    * tokenizer; the score is ONE fixed-shape IEEE expression over them,
    * rounded to 4 decimals. Tokenless docs drop (no denominator).
    *
    * Scale shape: per-row expressions only — zero shuffle, the F9
    * class; the higher-order functions stay inside codegen. */
  def readability(spark: SparkSession, dir: String): DataFrame =
    readabilityOf(Tables(spark, dir).documents)

  /** The F88 compute over any (doc_id, text) frame — specs plant prose
    * with hand-counted syllables. */
  def readabilityOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_words"),
        greatest(lit(1L), size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0)))
          .cast("long")).as("n_sentences"),
        aggregate(transform(col("toks"),
            t => greatest(lit(1), size(regexp_extract_all(t, lit("[aeiouy]+"), lit(0))))
              .cast("long")),
          lit(0L), (acc, x) => acc + x).as("n_syllables"))
      .withColumn("flesch", round(lit(206.835)
        - lit(1.015) * (col("n_words").cast("double") / col("n_sentences"))
        - lit(84.6) * (col("n_syllables").cast("double") / col("n_words")), 4))
      .orderBy(col("doc_id"))

  // stopword families used by the langid heuristic (order = tie-break order)
  val langStops: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "es" -> Seq("el", "los", "que", "y", "en"),
    "fr" -> Seq("le", "les", "et", "des", "un"))

  /** F10: heuristic language ID (stopword-hit argmax, deterministic
    * tie-break) + confusion rollup against the labeled `lang` column.
    *
    * Shape note: explode → conditional hash-agg instead of 4 higher-order
    * `filter()` lambdas — HOF lambdas don't codegen and CollapseProject
    * inlines the tokenizer into every reference (measured 12× slower);
    * the exploded form is whole-stage codegen with map-side partial agg. */
  def langid(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val tok = t.documents.select(col("doc_id"), col("lang"),
      explode(tokens(col("text"))).as("tok"))
    val hitCols = langStops.map { case (l, ws) =>
      sum(when(col("tok").isin(ws.map(lit): _*), 1).otherwise(0)).as(s"h_$l")
    }
    // lang is functionally dependent on doc_id; grouping by both keeps the
    // aggregate a pure codegen'd HashAggregate (no `first()`)
    val perDoc = tok.groupBy(col("doc_id"), col("lang"))
      .agg(hitCols.head, hitCols.tail: _*)
    val Seq(en, de, es, fr) = langStops.map { case (l, _) => col(s"h_$l") }
    perDoc.withColumn("predicted",
        when(en >= de && en >= es && en >= fr, "en")
          .when(de >= es && de >= fr, "de")
          .when(es >= fr, "es").otherwise("fr"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("predicted"))
  }

  /** F13: corpus-level term statistics — top terms by document frequency
    * (explode → two-level agg; the canonical "vocab build" shuffle of a
    * training-data pipeline, map-side combined by Catalyst). */
  def topTerms(spark: SparkSession, dir: String, k: Int = 25): DataFrame = {
    val t = Tables(spark, dir)
    t.documents
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("term"))
      .limit(k)
  }

  /** F80: corpus n-gram frequency table (n = 1..3) — the language-model
    * training primitive: unigram/bigram/trigram counts over the whole
    * corpus with a minimum-count floor, the input artifact of count-based
    * LM estimation (F20's bigram LM is one consumer), infini-gram-style
    * lookup tables, and n-gram-overlap contamination screens (F26).
    * Output: (n, gram, cnt) for every surviving gram, ordered by
    * (n, cnt DESC, gram) — deterministic because the floor makes the set
    * exact and the gram string breaks count ties.
    *
    * Scale shape: the canonical word-count — one explode of the three
    * gram arrays built in a single tokenizer pass, then ONE hash agg
    * whose map-side partials absorb the stopword-gram skew before the
    * shuffle; the count floor prunes the (Heaps-law sublinear) long tail
    * before any ordering. No joins, no windows, no driver state. */
  def ngramCounts(spark: SparkSession, dir: String, minCount: Long = 5): DataFrame =
    ngramCountsOf(Tables(spark, dir).documents, minCount)

  /** The F80 compute over any (doc_id, text) frame — specs feed corpora
    * with hand-countable gram inventories through the registered path. */
  def ngramCountsOf(docs: DataFrame, minCount: Long): DataFrame = {
    val t = tokens(col("text"))
    docs
      .select(explode(concat(wordGrams(t, 1), wordGrams(t, 2), wordGrams(t, 3)))
        .as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      // tokens split on \s+, so a k-gram's space count recovers k exactly
      .select(size(split(col("gram"), " ")).cast("long").as("n"),
        col("gram"), col("cnt"))
      .orderBy(col("n"), col("cnt").desc, col("gram"))
  }

  /** F82: Zipf-law fit over the F80 n-gram table — per gram order n, the
    * OLS slope of ln(count) on ln(rank) across the top-R grams. Natural
    * text follows Zipf with slope ≈ −1; a corpus whose unigram slope
    * drifts far from it is template spam (too flat: generated boilerplate
    * reuses a tiny vocabulary uniformly) or shredded text (too steep) —
    * a one-number corpus-health diagnostic next to F37's entropy, and a
    * direct consumer of F80.
    *
    * Determinism contract: the E38 convention — moments (means,
    * variances, covariance of the log pairs) ROUND to 4 decimals first,
    * slope/intercept/R² assemble FROM the rounded moments with nullif
    * zero-variance guards, then round again.
    *
    * Scale shape: F80's hash agg collapses the corpus; the rank window
    * runs over the floored gram table (Heaps-sublinear) partitioned by n
    * (3 partitions × top-R rows reach the fit); the fit itself is one
    * grouped agg over ≤ 3·R rows. */
  def zipfFit(spark: SparkSession, dir: String, minCount: Long = 5,
      topR: Int = 200): DataFrame =
    zipfFitOf(ngramCountsOf(Tables(spark, dir).documents, minCount), topR)

  /** The F82 fit over any (n, gram, cnt) frame. */
  def zipfFitOf(counts: DataFrame, topR: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("n")).orderBy(col("cnt").desc, col("gram"))
    val pts = counts.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topR)
      .select(col("n"), log(col("rank").cast("double")).as("x"),
        log(col("cnt").cast("double")).as("y"))
    val moments = pts.groupBy(col("n"))
      .agg(count(lit(1)).as("n_grams"),
        round(avg(col("x")), 4).as("mx"),
        round(avg(col("y")), 4).as("my"),
        round(var_samp(col("x")), 4).as("vx"),
        round(var_samp(col("y")), 4).as("vy"),
        round(covar_samp(col("x"), col("y")), 4).as("cxy"))
    val vx = nullif(col("vx"), lit(0.0))
    val vy = nullif(col("vy"), lit(0.0))
    moments
      .withColumn("slope", round(col("cxy") / vx, 4))
      .withColumn("intercept", round(col("my") - (col("cxy") / vx) * col("mx"), 4))
      .withColumn("r2", round((col("cxy") * col("cxy")) / (vx * vy), 4))
      .select(col("n"), col("n_grams"), col("slope"), col("intercept"), col("r2"))
      .orderBy(col("n"))
  }

  /** F84: PMI collocation mining — the statistically-surprising bigrams
    * ("new york", "machine learning") a phrase vocabulary / tokenizer
    * merge list is built from: pointwise mutual information
    * ln(P(xy) / (P(x)·P(y))) over the F80 unigram/bigram counts,
    * assembled as a fixed-order sum of logs of EXACT INTEGERS
    * (ln c_xy + ln N₁ + ln N₁ − ln N₂ − ln c_x − ln c_y — each log is
    * one libm call on the same integer in both engines, the fold order
    * is pinned by the expression shape). The count floor kills the
    * classic PMI pathology (hapax pairs score highest); a component
    * word of a floored bigram always survives the unigram floor, so the
    * component join never drops a candidate. Output: top-K pairs by
    * rounded PMI (count, components, both totals), ties broken
    * lexicographically.
    *
    * Scale shape: two F80-class hash aggs (unigrams, bigrams) with
    * map-side partial combine, the component lookups join on the
    * Heaps-sublinear floored unigram table (hash join on the word key),
    * totals ride a broadcast 1-row crossJoin. Nothing corpus-sized
    * survives the first aggs; the top-K orders the floored bigram
    * table only. */
  def pmi(spark: SparkSession, dir: String, minCount: Long = 5,
      topK: Int = 50): DataFrame =
    pmiOf(Tables(spark, dir).documents, minCount, topK)

  /** The F84 compute over any (doc_id, text) frame. */
  def pmiOf(docs: DataFrame, minCount: Long, topK: Int): DataFrame = {
    val t = tokens(col("text"))
    val toks = docs.select(t.as("toks")).localCheckpoint(true)
    val totals = toks.agg(
      sum(size(col("toks"))).cast("long").as("n_uni"),
      sum(greatest(size(col("toks")) - 1, lit(0))).cast("long").as("n_bi"))
    val uni = toks.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cw"))
      .filter(col("cw") >= minCount)
    val bi = toks.select(explode(wordGrams(col("toks"), 2)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= minCount)
      .select(split(col("g"), " ").getItem(0).as("w1"),
        split(col("g"), " ").getItem(1).as("w2"), col("c_xy"))
    bi.join(uni.select(col("w").as("w1"), col("cw").as("c_x")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("cw").as("c_y")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .withColumn("pmi", round(
        log(col("c_xy")) + log(col("n_uni")) + log(col("n_uni")) -
          log(col("n_bi")) - log(col("c_x")) - log(col("c_y")), 4))
      .select(col("w1"), col("w2"), col("c_xy"), col("c_x"), col("c_y"),
        col("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** F17: TF-IDF — top terms per document by tf·idf. Corpus DF via one
    * agg, tf via another, joined on term (broadcastable: vocab ≪ corpus —
    * Heaps-law sublinear — but GUARDED: the hint applies only while the
    * vocab estimate stays under a budget, so an extreme-vocab corpus
    * falls back to a plain shuffle join instead of OOMing the driver);
    * rank per doc is a window on the doc key. The standard two-pass
    * distributed formulation. */
  def tfidf(spark: SparkSession, dir: String, topPerDoc: Int = 3,
      vocabBroadcastBudget: Long = 1_000_000L): DataFrame = {
    val t = Tables(spark, dir)
    val n = t.documents.count()
    // ONE explode pass compressed to (doc, term, tf) and checkpointed;
    // document frequency is then a count over those rows (one row per
    // (doc, term) already — no second explode, no distinct shuffle)
    val tf = t.documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // the F6 pattern: measure before hinting — one cheap count over the
    // checkpointed rows decides broadcast vs shuffle join
    val dfSide = if (df_.count() <= vocabBroadcastBudget) broadcast(df_) else df_
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    tf.join(dfSide, "term")
      .withColumn("score", col("tf") * log((lit(n.toDouble) + 1.0) / (col("df") + 1.0)))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topPerDoc)
      .select(col("doc_id"), col("rn"), col("term"), col("tf"), col("df"),
        round(col("score"), 6).as("score"))
      .orderBy(col("doc_id"), col("rn"))
  }

  /** F96: BM25 term scoring — what F19's tf-idf is missing for actual
    * RETRIEVAL use (contamination probes, dedup-cluster representative
    * picking, query-based corpus audits): Okapi BM25's two fixes over raw
    * tf·idf are term-frequency saturation (tf·(k1+1)/(tf+…) caps a
    * keyword-stuffed doc) and document-length normalization (the b·dl/avgdl
    * term stops long docs from winning every query). Lucene's
    * non-negative idf variant ln(1 + (N−df+0.5)/(df+0.5)), k1 = 1.2,
    * b = 0.75 — the constants every search engine ships.
    *
    * Determinism: tf, df, dl, N and Σdl are exact integers; avgdl is
    * never materialized as a float — the length term folds to ONE
    * division 0.75·(dl·N)/Σdl, so each score is a fixed shape of exact
    * integer inputs on both engines (same IEEE ops in the same order),
    * ranked unrounded with the term tiebreak, then rounded to 6 dp (the
    * F19 contract).
    *
    * Scale shape: F19's verbatim — ONE explode pass compressed to
    * (doc, term, tf) and checkpointed; dl = Σtf per doc reuses those
    * rows (no second tokenize); df broadcast under the measured budget;
    * the only data-sized shuffles are the tf agg and the per-doc top-k
    * window. */
  def bm25(spark: SparkSession, dir: String, topPerDoc: Int = 3,
      vocabBroadcastBudget: Long = 1_000_000L): DataFrame =
    bm25Of(Tables(spark, dir).documents, topPerDoc, vocabBroadcastBudget)

  /** The F96 compute over any (doc_id, text) frame — specs replay a
    * closed-form wire and pin saturation/length-normalization. */
  def bm25Of(docs: DataFrame, topPerDoc: Int = 3,
      vocabBroadcastBudget: Long = 1_000_000L): DataFrame = {
    val n = docs.count()
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).cast("long").as("dl"))
    val totLen = dl.agg(sum(col("dl"))).first().getLong(0)
    val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val dfSide = if (df_.count() <= vocabBroadcastBudget) broadcast(df_) else df_
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    tf.join(dfSide, "term").join(dl, "doc_id")
      .withColumn("score",
        log(lit(1.0) + (lit(n.toDouble) - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))) *
          (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) +
            lit(0.75) * col("dl").cast("double") * lit(n.toDouble) /
              lit(totLen.toDouble))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topPerDoc)
      .select(col("doc_id"), col("rn"), col("term"), col("tf"), col("df"),
        col("dl"), round(col("score"), 6).as("score"))
      .orderBy(col("doc_id"), col("rn"))
  }

  /** F97: NDCG@10 over the F96 BM25 ranking — the GRADED ranking-quality
    * yardstick that closes the eval family (E63 AUC = binary
    * discrimination, D59 = calibration, this = "does the ranker put the
    * MOST relevant docs first?"): for each of the 20 highest-df probe
    * terms (the most load-bearing queries, picked deterministically by
    * (df desc, term)), rank that term's docs by BM25, take the top 10,
    * grade relevance rel = min(tf, 3) (the standard 0–3 scale from term
    * saturation), and score DCG = Σ (2^rel − 1)/log₂(rank+1) against the
    * ideal ordering's IDCG over the same candidate set.
    *
    * Determinism: tf/df/dl exact integers; BM25 ranks unrounded with the
    * doc_id tiebreak (the F96 fixed-shape contract); gains (2^rel − 1) ∈
    * {0,1,3,7} exact; each rank's discount is ONE division into ln; the
    * ≤10-term DCG/IDCG sums are ORDER-PINNED on both engines (aggregate
    * over sort_array / sum ORDER BY rank); IDCG's tie order is
    * irrelevant (equal rel ⇒ equal gain). NDCG rounds 6 dp.
    *
    * Scale shape: probe selection is one vocab-sized agg + TakeOrdered
    * 20 (broadcast back); scoring touches only the 20 probe terms'
    * postings (20 × avg-df rows, not corpus × vocab); the rank windows
    * partition by term — 20 partitions, each posting-list-sized. */
  def ndcgAt10(spark: SparkSession, dir: String, nProbes: Int = 20,
      k: Int = 10): DataFrame =
    ndcgOf(Tables(spark, dir).documents, nProbes, k)

  /** The F97 compute over any (doc_id, text) frame — specs replay a
    * closed-form wire where length normalization inverts a graded
    * ranking. */
  def ndcgOf(docs: DataFrame, nProbes: Int = 20, k: Int = 10): DataFrame = {
    val n = docs.count()
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).cast("long").as("dl"))
    val totLen = dl.agg(sum(col("dl"))).first().getLong(0)
    val df_ = tf.groupBy(col("term")).agg(count(lit(1)).cast("long").as("df"))
    val probes = broadcast(df_
      .orderBy(col("df").desc, col("term")).limit(nProbes))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("term")).orderBy(col("score").desc, col("doc_id"))
    val wIdeal = org.apache.spark.sql.expressions.Window
      .partitionBy(col("term")).orderBy(col("rel").desc, col("doc_id"))
    val scored = tf.join(probes, "term").join(dl, "doc_id")
      .withColumn("score",
        log(lit(1.0) + (lit(n.toDouble) - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))) *
          (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) +
            lit(0.75) * col("dl").cast("double") * lit(n.toDouble) /
              lit(totLen.toDouble))))
      .withColumn("rel", least(col("tf"), lit(3L)))
      .withColumn("gain",
        // explicit 2^rel - 1 ladder with an else-0 floor: rel is min(tf,3)
        // in {1,2,3} here (tf >= 1), but ndcgOf is a generic entry point —
        // a caller grading rel=0 must get gain 0, not the maximum
        expr("cast(case rel when 3 then 7 when 2 then 3 when 1 then 1 " +
          "else 0 end as long)"))
      .withColumn("rank", row_number().over(wRank))
      .withColumn("irank", row_number().over(wIdeal))
      .localCheckpoint(true)
    def cut(rk: String) = scored.filter(col(rk) <= k)
      .groupBy(col("term"))
      .agg(expr(s"aggregate(array_sort(collect_list(struct($rk as r, " +
        s"gain / (ln(cast($rk + 1 as double)) / ln(2.0)) as g))), " +
        "cast(0.0 as double), (acc, x) -> acc + x.g)").as(rk + "_sum"))
    val stats = scored.groupBy(col("term"), col("df"))
      .agg(count(lit(1)).cast("long").as("n_docs"))
    stats.join(cut("rank"), Seq("term")).join(cut("irank"), Seq("term"))
      .select(col("term"), col("df"), col("n_docs"),
        round(col("rank_sum"), 6).as("dcg"),
        round(col("irank_sum"), 6).as("idcg"),
        round(col("rank_sum") / nullif(col("irank_sum"), lit(0.0)), 6)
          .as("ndcg"))
      .orderBy(col("term"))
  }

  /** F20: character-bigram language-model quality score — the CCNet/KenLM
    * filtering idea at engine level: train the LM ON the corpus (bigram
    * counts, one map-side-combined agg), broadcast the tiny model back,
    * and score every document by its average add-one-smoothed bigram log
    * probability. Low scores = atypical character statistics (mojibake,
    * binary junk, wrong-language noise) — the standard perplexity-style
    * training-data filter. Two distributed passes + one broadcast join;
    * per-doc work is linear in characters.
    *
    * Served from a PERSISTED [[graft.io.Artifacts]] version of
    * `documents.parquet`: the tokenize → explode → train → score job runs
    * once per corpus version and lands as a (doc_id, n_bigrams,
    * avg_logprob) parquet; every consumer (`text_lm_score`,
    * [[ccnetBuckets]]) re-reads the scores instead of re-tokenizing the
    * corpus — at 100 TB the LM pass is a once-per-corpus-version indexing
    * job, not a per-query cost. Any rewrite of the documents table builds
    * a new version. */
  def lmScore(spark: SparkSession, dir: String): DataFrame = {
    val verDir = graft.io.Artifacts.version(spark, "lm", dir, "documents.parquet", "lm1") {
      tmp => lmScoreFresh(spark, dir).write.mode("overwrite").parquet(s"$tmp/scores")
    }
    spark.read.parquet(s"$verDir/scores").orderBy(col("doc_id"))
  }

  /** The (doc_id, bg, cnt) cell stage of the F20 build, pre-checkpoint —
    * factored out so its plan stays inspectable (the checkpoint hides it
    * from lmScoreFresh's final plan). r18: the charBigramCounts kernel
    * emits per-doc exact counts, so the explode IS the cell frame — the
    * old per-occurrence explode → groupBy(doc_id, bg) hash aggregation
    * and its Exchange are gone (plans/r18/text_lm_db_{before,after}.txt:
    * Generate → 2×HashAggregate + Exchange → Generate only). */
  private[graft] def lmDbStage(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.documents.select(col("doc_id"),
        explode(graft.functions.TextKernels.charBigramCountsCol(col("text"))).as("s"))
      .select(col("doc_id"), col("s.bg").as("bg"), col("s.cnt").as("cnt"))
  }

  /** The F20 compute itself — one corpus pass, run by [[lmScore]] only
    * when the stamped layout for this corpus version doesn't exist yet. */
  private[graft] def lmScoreFresh(spark: SparkSession, dir: String): DataFrame = {
    // r18: the per-doc bigram COUNTS kernel (charBigramCounts) fuses the
    // r17 charBigrams → explode → groupBy(doc, bg) → count chain into
    // one scan-stage eval — the per-occurrence rows never exist as plan
    // rows and the corpus-sized hash aggregation (with its Exchange over
    // ~n_docs × distinct-bigram rows) disappears; explode now emits the
    // exact (doc, bg, cnt) cells directly (spec-pinned equivalent to the
    // retained charBigrams form in TextKernelsSpec). Checkpointed so the
    // model training AND the scoring below both reuse it instead of
    // re-scanning the corpus.
    val db = lmDbStage(spark, dir).localCheckpoint(true)
    // the "language model": bigram + first-char counts + vocab size,
    // pre-joined into ONE tiny model table so scoring is a single
    // broadcast join
    val biCounts = db.groupBy(col("bg")).agg(sum(col("cnt")).as("c2"))
    val firstCounts = biCounts.groupBy(substring(col("bg"), 1, 1).as("c1"))
      .agg(sum(col("c2")).as("c1n"))
    val vocab = firstCounts.agg(count(lit(1)).as("v"))
    val model = biCounts
      .join(firstCounts, substring(col("bg"), 1, 1) === col("c1"))
      .crossJoin(vocab)
      .select(col("bg"), col("c2"), col("c1n"), col("v"))
    // score per-doc DISTINCT bigrams, not per occurrence; the cnt column
    // carries the occurrence weighting so the average is unchanged
    db.join(broadcast(model), Seq("bg"))
      .withColumn("lp", log((col("c2") + 1.0) / (col("c1n") + col("v"))))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_bigrams"),
        round(sum(col("cnt") * col("lp")) / sum(col("cnt")), 3).as("avg_logprob"))
      .orderBy(col("doc_id"))
  }

  /** F23: PII scrubbing — the safety pass every training corpus gets
    * before tokenization: redact emails, phone-shaped numbers and IPv4
    * addresses with typed placeholders and account per-doc redactions.
    * The corpus has no organic PII, so the wire format plants
    * deterministic PII around each document (the same build-then-operate
    * pattern as the JSON/XML ingest ops); the scrub itself is three
    * native regexp passes — per-row, codegen'd, shuffle-free. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    // wire format: text as it would arrive, with planted PII
    val wire = t.documents.select(col("doc_id"),
      concat(
        lit("contact user"), col("doc_id"), lit("@example.com or call 555-01"),
        lpad((col("doc_id") % 100).cast("string"), 2, "0"),
        lit("-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit(".1 :: "),
        col("text")).as("raw"))
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phoneRe = "[0-9]{3}-[0-9]{4}-[0-9]{4}"
    val ipRe = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
    def countMatches(c: Column, re: String): Column =
      size(split(c, re)) - 1 // separators = matches for non-overlapping regexes
    wire
      .withColumn("n_emails", countMatches(col("raw"), emailRe))
      .withColumn("n_phones", countMatches(col("raw"), phoneRe))
      .withColumn("n_ips", countMatches(col("raw"), ipRe))
      .withColumn("scrubbed",
        regexp_replace(regexp_replace(regexp_replace(col("raw"),
          emailRe, "<EMAIL>"), phoneRe, "<PHONE>"), ipRe, "<IP>"))
      .select(col("doc_id"),
        col("n_emails").cast("long").as("n_emails"),
        col("n_phones").cast("long").as("n_phones"),
        col("n_ips").cast("long").as("n_ips"),
        md5(col("scrubbed").cast("binary")).as("scrubbed_md5"),
        (col("scrubbed").rlike(emailRe) ||
          col("scrubbed").rlike(ipRe)).cast("int").as("residual_pii"))
      .orderBy(col("doc_id"))
  }

  /** F21: weighted sampling without replacement (Efraimidis–Spirakis
    * A-ES): each doc gets key u^(1/w) — u a deterministic hash-uniform,
    * w the document weight (chars here: longer docs proportionally more
    * likely) — and the sample is the top-k keys. One pass + bounded
    * top-k (TakeOrderedAndProject, no full sort, no RNG state — the
    * reproducibility property that matters for training-data lineage). */
  def weightedSample(spark: SparkSession, dir: String, k: Int = 50): DataFrame = {
    val t = Tables(spark, dir)
    val u = ((col("doc_id") * 2654435761L) % 1000000L + 0.5) / 1000000.0
    t.documents
      // A-ES semantics: weight 0 means excluded (and 1/0 would diverge
      // between engines: Spark double-div → Infinity, DuckDB → error)
      .filter(col("n_chars") > 0)
      .withColumn("skey", pow(u, lit(1.0) / col("n_chars")))
      .orderBy(col("skey").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("n_chars"), round(col("skey"), 6).as("sample_key"))
  }

  /** F25: sequence packing — the final step before pretraining: documents
    * concatenated in corpus order and cut into fixed token-capacity
    * chunks (GPT-style packing with document straddling); each doc's
    * pack is where its first token lands. The global running token sum
    * uses A5's chunked prefix-sum scheme — per-chunk sums collected to
    * the driver (≤ nChunks rows), prefix-summed, and added back to a
    * window PARTITIONED by chunk, so no single-task global window at any
    * scale. Per-pack rollup: docs started, token count, doc-id range. */
  def packChunks(spark: SparkSession, dir: String, capacity: Long = 2048L,
      nChunks: Int = 32): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val t = Tables(spark, dir)
    val base = t.documents.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tok"))
    val (minK, _, span) = graft.sources.Ingest.keySpace(base, "doc_id", nChunks)
    val chunked = base.withColumn("chunk",
      floor((col("doc_id") - minK) / span).cast("long"))
    val counts = chunked.groupBy(col("chunk")).agg(sum(col("n_tok")).as("cnt"))
      .orderBy(col("chunk")).collect()
    var acc = 0L
    val offs = counts.map { r => val o = (r.getLong(0), acc); acc += r.getLong(1); o }.toSeq
    val offDf = offs.toDF("chunk", "chunk_off")
    val wLocal = Window.partitionBy(col("chunk")).orderBy(col("doc_id"))
    chunked.join(broadcast(offDf), Seq("chunk"))
      .withColumn("start",
        col("chunk_off") + sum(col("n_tok")).over(wLocal) - col("n_tok"))
      .withColumn("pack_id", floor(col("start") / capacity).cast("long"))
      .groupBy(col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).cast("long").as("n_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("pack_id"))
  }

  /** F26: benchmark-contamination screen — the eval-integrity pass every
    * training corpus needs: flag corpus documents sharing verbatim word
    * 5-grams with a benchmark set. Benchmark grams are few (broadcast);
    * the corpus side is one distinct-gram explode; the report is per
    * BENCHMARK item (how many corpus docs leak it, how many gram hits),
    * including clean items — the shape an eval-decontamination run
    * actually reports. */
  def contamination(spark: SparkSession, dir: String, n: Int = 5,
      benchMod: Long = 97L): DataFrame = {
    val t = Tables(spark, dir)
    // distinct (doc, gram) = per-row array_distinct BEFORE the explode —
    // the same set with NO global distinct shuffle; checkpointed because
    // the subtree feeds three consumers (bench grams, corpus grams, the
    // per-item report spine), same convention as tfidf/lmScore.
    // Contract: doc_id is the documents table's key (one row per doc) —
    // per-row distinct equals cross-row distinct only under that
    // invariant; a sharded corpus must pre-merge doc rows first
    val docGrams = t.documents
      .select(col("doc_id"),
        explode(array_distinct(wordGrams(tokens(col("text")), n))).as("gram"))
      .localCheckpoint(true)
    val bench = docGrams.filter(col("doc_id") % benchMod === 0)
      .select(col("doc_id").as("bench_doc"), col("gram"))
    val corpus = docGrams.filter(col("doc_id") % benchMod =!= 0)
    val hits = corpus.join(broadcast(bench), Seq("gram"))
      .groupBy(col("bench_doc"))
      .agg(countDistinct(col("doc_id")).as("n_contaminated_docs"),
        count(lit(1)).as("n_gram_hits"))
    bench.select(col("bench_doc")).distinct()
      .join(hits, Seq("bench_doc"), "left")
      .select(col("bench_doc"),
        coalesce(col("n_contaminated_docs"), lit(0L)).as("n_contaminated_docs"),
        coalesce(col("n_gram_hits"), lit(0L)).as("n_gram_hits"))
      .orderBy(col("bench_doc"))
  }

  /** F27: repetition filter (the Gopher/MassiveText repetition rules):
    * fraction of duplicated word 3-grams per document — templated or
    * looping text scores high and gets flagged. Pure per-row array
    * arithmetic (no shuffle, no explode): dup fraction = 1 − distinct/total.
    * The corpus has no organic repetition, so the wire plants it (every
    * 10th doc arrives self-concatenated — the looping-template shape),
    * same build-then-operate pattern as the PII/XML wires. */
  def repetition(spark: SparkSession, dir: String, n: Int = 3,
      flagAt: Double = 0.2): DataFrame = {
    val t = Tables(spark, dir)
    val wire = when(col("doc_id") % 10 === 0,
      concat(col("text"), lit(" "), col("text"))).otherwise(col("text"))
    val grams = wordGrams(tokens(wire), n)
    t.documents
      .select(col("doc_id"), col("lang"), grams.as("g"))
      .select(col("doc_id"), col("lang"),
        size(col("g")).cast("long").as("n_grams"),
        size(array_distinct(col("g"))).cast("long").as("n_distinct"))
      .withColumn("dup_ratio", round(
        when(col("n_grams") > 0,
          lit(1.0) - col("n_distinct").cast("double") / col("n_grams"))
          .otherwise(lit(0.0)), 4))
      .withColumn("flagged", (col("dup_ratio") >= flagAt).cast("int"))
      .orderBy(col("doc_id"))
  }

  /** F15: deterministic train/val/test split — multiplicative-hash bucket
    * of the stable id (80/10/10). Pure per-row arithmetic: reproducible on
    * any engine, no RNG state, no shuffle; the split column can partition
    * the output write. */
  def datasetSplit(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val bucket = pmod(col("doc_id") * 2654435761L, lit(1000L))
    t.documents
      .withColumn("split",
        when(bucket < 800, "train").when(bucket < 900, "val").otherwise("test"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).cast("long").as("n_chars_total"))
      .orderBy(col("split"))
  }

  /** F16: systematic stratified sampling — every k-th document per stratum
    * in stable id order (the deterministic cousin of reservoir sampling;
    * at scale the rank is one window shuffle on the stratum key). */
  def stratifiedSample(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val t = Tables(spark, dir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("doc_id"))
    t.documents
      .withColumn("rn", row_number().over(w))
      .filter((col("rn") % k) === 1)
      .select(col("lang"), col("doc_id"), col("n_chars"))
      .orderBy(col("lang"), col("doc_id"))
  }

  /** F46: CLASS-BALANCED downsampling — equalize class populations to
    * the smallest class (the standard rebalancing step before training
    * on label-skewed corpora): every class keeps exactly n_min rows,
    * chosen by a deterministic md5-order rank rather than `rand()`, so
    * the selection is reproducible across runs AND engines (the oracle
    * recomputes it bit for bit) and stable under re-partitioning. One
    * shuffle on the class key for the rank window plus a broadcast
    * 1-row target; at 100 TB the window cost concentrates in the
    * LARGEST class — the hash order means a class 1000× over target
    * could first be pre-screened to hash-bucket < ceil(margin·n_min/
    * |class|·2⁵³) and only re-widened on a shortfall, the same
    * estimate-then-guard shape as F24's bloom sizing; the exact form
    * here IS the fallback path. */
  def sampleBalanced(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val docs = t.documents.select(col("doc_id"), col("lang"), col("n_chars"))
    val target = docs.groupBy(col("lang")).count()
      .agg(min(col("count")).as("n_target"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    docs.withColumn("rk", row_number().over(w).cast("long"))
      .crossJoin(broadcast(target))
      .filter(col("rk") <= col("n_target"))
      .select(col("lang"), col("rk"), col("doc_id"), col("n_chars"))
      .orderBy(col("lang"), col("rk"))
  }

  /** F47: CONTRASTIVE pair construction — the cheap negative-sampling
    * scheme for embedding/CLIP-style training: each anchor pairs with
    * its positive (same id) plus nNeg negatives chosen by a CYCLIC SHIFT
    * (anchor + j·stride mod N, stride coprime-ish to N), the distributed
    * analogue of in-batch negatives. F38 mines HARD negatives by
    * similarity search; this is its zero-compute baseline — negatives by
    * index arithmetic, no similarity pass, no extra shuffle beyond the
    * payload-fetch join (which co-partitions on the pair key). The audit
    * proves the three contract properties as columns rather than
    * assumptions: every rank carries exactly |anchors| pairs, negatives
    * never collide with their own anchor, and the fetched payload
    * checksums certify the join really resolved each pair. */
  def contrastivePairs(spark: SparkSession, dir: String,
                       nNeg: Int = 3, stride: Int = 97): DataFrame = {
    val t = Tables(spark, dir)
    val docs = t.documents.select(col("doc_id"))
    val emb = t.embeddings.select(col("vec_id"), col("label"))
    val n = emb.agg(count(lit(1)).as("n_corpus"))
    docs.crossJoin(broadcast(n))
      .select(col("doc_id"), col("n_corpus"),
        explode(sequence(lit(0L), lit(nNeg.toLong))).as("pair_rank"))
      .withColumn("vec_id",
        pmod(col("doc_id") + col("pair_rank") * stride, col("n_corpus")))
      .join(emb, Seq("vec_id"))
      .groupBy(col("pair_rank"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("vec_id") === col("doc_id") && col("pair_rank") > 0, 1L)
          .otherwise(0L)).as("n_self_collisions"),
        sum(col("label")).cast("long").as("label_checksum"),
        sum(col("vec_id")).cast("long").as("vec_checksum"))
      .orderBy(col("pair_rank"))
  }

  /** F11: token counting — whitespace words and a BPE-ish regex
    * tokenization (letters / digits / single symbols). */
  def tokenCount(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.documents
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars_m"),
        size(tokens(col("text"))).cast("long").as("ws_tokens"),
        size(regexp_extract_all(col("text"),
          lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).cast("long").as("bpe_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Gopher's required stop words (Rae et al. 2021, A1.1): a kept document
    * must contain at least 2 of these. */
  val gopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Raw per-row Gopher measurements (unrounded) — ONE builder shared by
    * the audit query and the composed training-data pipeline so both
    * always judge against identical arithmetic. */
  def gopherMeasure(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_words", size(col("toks")).cast("long"))
      .withColumn("nw", greatest(col("n_words"), lit(1L)).cast("double"))
      .withColumn("n_lines", (regexp_count(col("text"), lit("\n")) + 1).cast("double"))
      // mean word length over non-whitespace characters
      .withColumn("mwl",
        length(regexp_replace(col("text"), "\\s", "")).cast("double") / col("nw"))
      // symbol-to-word ratio: '#' plus ellipses ('...' or '…')
      .withColumn("sym",
        (regexp_count(col("text"), lit("#"))
          + regexp_count(col("text"), lit("\\.\\.\\."))
          + regexp_count(col("text"), lit("…"))).cast("double") / col("nw"))
      // fraction of lines starting with a bullet / ending with an ellipsis
      .withColumn("bul",
        regexp_count(col("text"), lit("(?m)^\\s*[-*•]")).cast("double") / col("n_lines"))
      .withColumn("ell",
        regexp_count(col("text"), lit("(?m)(\\.\\.\\.|…)\\s*$")).cast("double") / col("n_lines"))
      // fraction of words carrying at least one alphabetic character
      .withColumn("alw",
        size(filter(col("toks"), t => t.rlike("[a-z]"))).cast("double") / col("nw"))
      // distinct required stop words present
      .withColumn("n_stop_distinct",
        size(filter(array(gopherStops.map(lit): _*),
          s => array_contains(col("toks"), s))).cast("long"))

  /** The Gopher keep verdict over [[gopherMeasure]]'s raw columns.
    * `minStop` defaults to the published floor of 2. */
  def gopherKeepCond(minWords: Long = 50L, maxWords: Long = 100000L,
      minStop: Long = 2L): Column =
    col("n_words") >= minWords && col("n_words") <= maxWords &&
      col("mwl") >= 3.0 && col("mwl") <= 10.0 &&
      col("sym") <= 0.1 && col("bul") <= 0.9 && col("ell") <= 0.3 &&
      col("alw") >= 0.8 && col("n_stop_distinct") >= minStop

  /** Core of [[gopherRules]] over an explicit (doc_id, text) frame. All
    * rule measurements are per-row native column arithmetic (regexp
    * counts, length deltas) — shuffle-free, codegen'd; flags compute from
    * the UNROUNDED ratios so rounding can never flip a verdict. */
  def gopherAudit(docs: DataFrame, minWords: Long = 50L, maxWords: Long = 100000L): DataFrame = {
    val d = gopherMeasure(docs)
    d.select(col("doc_id"), col("n_words"),
        round(col("mwl"), 4).as("mean_word_len"),
        round(col("sym"), 4).as("symbol_ratio"),
        round(col("bul"), 4).as("bullet_frac"),
        round(col("ell"), 4).as("ellipsis_line_frac"),
        round(col("alw"), 4).as("alpha_word_frac"),
        col("n_stop_distinct"),
        gopherKeepCond(minWords, maxWords).cast("int").as("keep"))
      .orderBy(col("doc_id"))
  }

  /** F33: curriculum buckets — order the corpus by the F9 quality score
    * and split into `n` equal ntile stages (curriculum learning's data
    * ordering: cleanest bucket first). A naive `ntile() OVER (ORDER BY
    * score)` is a GLOBAL sort through one task — the exact single-task
    * window this codebase bans — so the global rank is built with the
    * chunked prefix-sum scheme instead (A5/F25's pattern applied to
    * ranking): rows chunk by score RANGE (descending score → ascending
    * chunk, so chunk order equals rank order and equal scores can never
    * straddle a chunk), per-chunk counts prefix-sum driver-side
    * (driver-sized histogram), and each chunk ranks locally under its own
    * partition key. A degenerate score distribution that funnels one
    * range chunk is sub-split by the skew guard first
    * ([[curriculumChunkKeys]]).
    * Buckets then follow the SQL-standard ntile fill (larger buckets
    * first) as pure integer math on the global rank — bit-identical to
    * DuckDB's native ntile, which the oracle uses. */
  /** H5: composed CURATION pipeline — the session's training-data
    * operators chained end-to-end with per-stage survivor lineage (the
    * H4 convention, new surface): ingest (F49-wired corpus) →
    * sub-document dedup gate (drop any doc carrying a non-first-owned
    * paragraph — the fully-first-owned rule) → novelty gate (F60: drop
    * docs beyond the derivative-content budget) → hub cap (F53: drop
    * PageRank mass concentrators — boilerplate hubs the gram graph
    * exposes) → deterministic shard assignment (F55), whose (shard, pos)
    * checksum pins the final training order bit-exactly.
    *
    * Every stage reuses the standalone operator's shared builder
    * (paragraphChunksOf, textNoveltyOf, pagerankOf, sampleShuffleOf) so
    * pipeline verdicts can never drift from the per-op queries; stage
    * frames localCheckpoint once and feed both the next stage and the
    * lineage agg (each operator's scale argument carries over verbatim
    * — nothing new moves). */
  def curationPipeline(spark: SparkSession, dir: String, w: Int = 20,
      noveltyMin: Long = 960000L, prCap: Long = 1500000L,
      nShards: Int = 16): DataFrame = {
    // gram width 4 for the novelty and graph stages: the 8-gram default
    // finds NO organic sharing once stage 2 removed every doc carrying a
    // duplicated 20-word chunk (measured: all-1e6 novelty at k=8), while
    // 4-grams expose the soft phrase-reuse structure the gates exist to
    // police (p10 ≈ 959k, p25 ≈ 978k at sf0.01)
    val k = 4
    val t = Tables(spark, dir)
    val wired = Dedup.paragraphWire(t.documents.select(col("doc_id"), col("text")))
      .withColumn("n_tok", size(tokens(col("text"))).cast("long"))
      .localCheckpoint(true)
    // Stage checkpoints hold survivor ID SETS, not stage frames (r17):
    // a stage frame carries the corpus TEXT, and eagerly materializing
    // it per stage re-copied the text blocks four times; the gates only
    // decide doc_ids, so each stage pins its (tiny) id set and the
    // frame any consumer needs is re-derived as one join against the
    // SINGLE text materialization (`wired`) — column pruning means an
    // id-only consumer (the lineage aggs, the shard checksum) never
    // touches the text at all.
    def frameOf(ids: DataFrame): DataFrame = wired.join(ids, Seq("doc_id"))
    // stage 2: sub-document dedup as a DOC gate — fully-first-owned only
    val chunks = Dedup.paragraphChunksOf(wired.select(col("doc_id"), col("text")), w)
    val keepers = chunks.groupBy(col("h")).agg(min(col("occ_key")).as("keeper_key"))
    val pd = chunks.join(keepers, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("occ_key") === col("keeper_key"), 1L).otherwise(0L)).as("n_kept"))
    val s2Ids = pd.filter(col("n_kept") === col("n_chunks"))
      .select(col("doc_id")).localCheckpoint(true)
    val s2 = frameOf(s2Ids)
    // stage 3: novelty budget over the survivor set
    val novKeep = textNoveltyOf(s2.select(col("doc_id"), col("text")), k)
      .filter(col("novelty_ppm") >= noveltyMin).select(col("doc_id"))
    val s3Ids = s2Ids.join(novKeep, Seq("doc_id")).localCheckpoint(true)
    val s3 = frameOf(s3Ids)
    // stage 4: hub cap on the survivor gram graph
    val prKeep = Graph.pagerankOf(s3.select(col("doc_id"), col("text")), k, 32, 5)
      .filter(col("pr_ppm") <= prCap).select(col("doc_id"))
    val s4Ids = s3Ids.join(prKeep, Seq("doc_id")).localCheckpoint(true)
    val s4 = frameOf(s4Ids)
    // stage 5: the training order — (shard, pos) folded into one checksum
    val sh = sampleShuffleOf(s4, nShards, 32)
      .agg(countDistinct(col("shard")).cast("long").as("sh_shards"),
        coalesce(sum(col("shard") * 1000000L + col("pos")), lit(0L))
          .cast("long").as("sh_checksum"))
    def stageAgg(df: DataFrame, p: String): DataFrame = df.agg(
      count(lit(1)).cast("long").as(s"${p}_docs"),
      coalesce(sum(col("n_tok")), lit(0L)).cast("long").as(s"${p}_toks"),
      coalesce(sum(col("doc_id")), lit(0L)).cast("long").as(s"${p}_ids"))
    stageAgg(wired, "a").crossJoin(stageAgg(s2, "b"))
      .crossJoin(stageAgg(s3, "c")).crossJoin(stageAgg(s4, "d"))
      .crossJoin(sh)
      .selectExpr(
        """stack(5,
          | 1, 'ingest',        a_docs, a_docs, a_toks, a_ids,
          | 2, 'para_dedup',    a_docs, b_docs, b_toks, b_ids,
          | 3, 'novelty_gate',  b_docs, c_docs, c_toks, c_ids,
          | 4, 'hub_cap',       c_docs, d_docs, d_toks, d_ids,
          | 5, 'shard_order',   d_docs, sh_shards, d_toks, sh_checksum
          |) AS (stage_ord, stage, units_in, units_out, tokens_out, id_checksum)
          |""".stripMargin)
      .orderBy(col("stage_ord"))
  }

  /** F60: per-document NOVELTY scoring — the contribution signal data
    * selection orders by: of a document's distinct word 8-grams, what
    * fraction is FIRST-OWNED by it (global first owner = the smallest
    * doc_id containing the gram — the dedup keeper convention)? Dedup
    * asks "is this a copy"; novelty asks "how much NEW content does this
    * add", the complement that ranks partially-derivative documents for
    * curriculum / dedup-priority decisions.
    *
    * Scale shape: grams collapse to 64-bit hashes pre-shuffle (the F30
    * rule); ONE gram hash-agg finds first owners (map-side combined);
    * the ownership verdict joins back on the hash. No self-join, no
    * window, no all-pairs — the cheapest member of the gram family. */
  def textNovelty(spark: SparkSession, dir: String, k: Int = 8): DataFrame =
    textNoveltyOf(Tables(spark, dir).documents, k)

  /** The F60 compute over any (doc_id, text) frame — specs plant
    * copies/derivatives with closed-form novelty.
    *
    * PRECONDITION (r17 ADVICE): exactly ONE row per doc_id. The r17
    * kernel swap dropped the global (doc_id, gh) `.distinct()` because
    * the gramHashes kernel's within-doc distinct already implies
    * pair-distinctness — an argument that breaks if a caller feeds
    * duplicate doc_id rows (ng/n_docs/novelty would double-count where
    * the old pipeline was robust). Every current caller passes a
    * one-row-per-doc corpus table; dedup upstream before reusing this
    * entry point on anything else. Same contract:
    * [[graft.operators.Dedup.containmentOf]], [[Graph.gramPairs]]. */
  def textNoveltyOf(docs: DataFrame, k: Int): DataFrame = {
    // r17: the gramHashes kernel emits each doc's DISTINCT gram hashes
    // directly (tokenize → gram-hash → per-doc dedup in one codegen
    // call, zero gram strings), so the exploded rows are already the
    // distinct (doc_id, gh) pairs — the old global .distinct() exchange
    // is provably redundant (within-doc distinct ⇒ pair-distinct) and
    // is dropped with it. Hash = the same xxhash64 (spec-pinned).
    val grams = docs
      .select(col("doc_id"),
        explode(graft.functions.TextKernels.gramHashesCol(col("text"), k)).as("gh"))
    val owners = grams.groupBy(col("gh")).agg(min(col("doc_id")).as("owner"))
    grams.join(owners, Seq("gh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_distinct"),
        sum(when(col("owner") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_distinct"), col("n_novel"),
        expr("n_novel * 1000000 div greatest(n_distinct, 1)").as("novelty_ppm"))
      .orderBy(col("doc_id"))
  }

  /** F55: deterministic global training-order shuffle + shard
    * assignment — the LAST step of every curation pipeline: the kept
    * corpus must reach the trainer in a reproducible pseudo-random order
    * split into balanced shards, and "ORDER BY rand()" is neither
    * reproducible nor scale-safe. Order key = a modular multiplicative
    * hash `h = (doc_id mod P)·M mod P` (P = 1e9+7 prime, M coprime —
    * BIJECTIVE over [0,P), so the permutation is collision-free and
    * every engine replays it in plain integer arithmetic); global
    * position = the EXACT chunked prefix-sum rank over (h, doc_id) (the
    * F33 scheme — no single-task window at any corpus size); shard =
    * round-robin `(rank−1) mod nShards` (perfectly balanced, ±1), pos =
    * `(rank−1) div nShards` (the write offset within the shard).
    *
    * Scale shape: per-row hash arithmetic, one ≤driver-sized chunk
    * histogram, local ranks under per-chunk window partitions — the
    * plan a 1000-executor sort-free shuffle wants. A writer then
    * `partitionBy(shard)` + sorts within partitions by pos. */
  def sampleShuffle(spark: SparkSession, dir: String, nShards: Int = 16,
      nChunks: Int = 32): DataFrame =
    sampleShuffleOf(Tables(spark, dir).documents, nShards, nChunks)

  /** The F55 compute over any frame with a `doc_id` column — the H5
    * composed pipeline shards its survivor set through the same path. */
  def sampleShuffleOf(docs: DataFrame, nShards: Int, nChunks: Int): DataFrame = {
    val P = 1000000007L
    val M = 999999937L
    val scored = docs.select(col("doc_id"))
      .withColumn("h", expr(s"(doc_id % $P) * $M % $P"))
      // descending-score order == ascending-h order: the F33 chunker's
      // native ordering, reused unchanged (h < P ⇒ distinct doubles)
      .withColumn("quality_score", lit(1.0) - col("h").cast("double") / P)
    val (ranked, _) = exactGlobalRank(scored, nChunks)
    ranked.select(col("doc_id"), col("h"),
        expr(s"(rank - 1) % $nShards").cast("long").as("shard"),
        expr(s"(rank - 1) div $nShards").cast("long").as("pos"))
      .orderBy(col("doc_id"))
  }

  def sampleCurriculum(spark: SparkSession, dir: String, nBuckets: Int = 10,
      nChunks: Int = 32): DataFrame =
    curriculumBuckets(quality(spark, dir)
      .select(col("doc_id"), col("n_words"), col("quality_score")),
      nBuckets, nChunks)

  /** Chunk-key derivation for the exact-ntile scheme, with the skew
    * guard: the base key is the descending-score range chunk (per-row
    * arithmetic, no shuffle). A degenerate score distribution can funnel
    * most of the corpus into ONE range chunk — and therefore one window
    * partition — so any chunk holding more than 4/nChunks of the corpus
    * is recursively SUB-SPLIT (up to `maxDepth` rounds, each one cheap
    * count pass): a chunk whose scores still vary splits on a finer
    * score range (tightened to its measured [min,max]); a chunk of ONE
    * constant score splits on doc_id ranges — ordering-safe because
    * within equal scores the rank tiebreak IS doc_id. Every key is
    * multiplied by `subSplit` per round (non-hot chunks take sub-id 0),
    * so ascending key order stays exactly rank order. Distinct keys stay
    * driver-sized: at most nChunks/4 chunks can be hot per round (each
    * holds > 4/nChunks of the rows), so keys grow by at most
    * nChunks/4·(subSplit−1) per round (≤ ~200 total at the defaults).
    * Returns the keyed frame and the ascending (ckey, count) histogram.
    * Caveat: the doc_id split assumes ids are roughly uniform over the
    * chunk's id range — adversarially clustered ids inside a
    * constant-score chunk would stay unbalanced (they cannot be split
    * better without a global sort). */
  def curriculumChunkKeys(scored: DataFrame, nChunks: Int, subSplit: Int = 8,
      maxDepth: Int = 3): (DataFrame, Seq[(Long, Long)]) = {
    val spark = scored.sparkSession
    import spark.implicits._
    var cur = scored.withColumn("ckey",
      least(lit(nChunks - 1), greatest(lit(0),
        floor((lit(1.0) - col("quality_score")) * nChunks))).cast("long"))
    var depth = 0
    while (true) {
      val stats = cur.groupBy(col("ckey"))
        .agg(count(lit(1)).as("cnt"),
          min(col("quality_score")).as("mns"), max(col("quality_score")).as("mxs"),
          min(col("doc_id")).as("mni"), max(col("doc_id")).as("mxi"))
        .collect()
      val total = stats.map(_.getLong(1)).sum
      val thresh = math.max(1L, 4L * total / nChunks)
      val hot = stats.filter(_.getLong(1) > thresh)
      if (hot.isEmpty || depth == maxDepth)
        return (cur, stats.map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1))
      // checkpoint once, before the first refinement join, so later
      // passes re-read materialized rows instead of recomputing scores
      if (depth == 0) cur = cur.localCheckpoint(true)
      val splits = hot.toSeq.map { r =>
        val (k, mns, mxs) = (r.getLong(0), r.getDouble(2), r.getDouble(3))
        if (mns < mxs) (k, 0, mns, mxs, 0L, 0L)
        else (k, 1, 0.0, 0.0, r.getLong(4), r.getLong(5))
      }.toDF("ckey", "kind", "lo_s", "hi_s", "lo_i", "hi_i")
      val idStep = greatest(lit(1L),
        ceil((col("hi_i") - col("lo_i") + 1).cast("double") / subSplit).cast("long"))
      val sub = when(col("kind").isNull, lit(0L))
        .when(col("kind") === 0,
          least(lit(subSplit - 1).cast("long"), greatest(lit(0L),
            floor((col("hi_s") - col("quality_score"))
              / (col("hi_s") - col("lo_s")) * subSplit))))
        .otherwise(least(lit(subSplit - 1).cast("long"),
          floor((col("doc_id") - col("lo_i")).cast("double") / idStep)))
      cur = cur.join(broadcast(splits), Seq("ckey"), "left")
        .withColumn("ckey", col("ckey") * subSplit + sub)
        .drop("kind", "lo_s", "hi_s", "lo_i", "hi_i")
      depth += 1
    }
    sys.error("unreachable")
  }

  /** The F33 core over an explicit (doc_id, n_words, quality_score)
    * frame, so specs can plant degenerate score distributions. */
  /** EXACT 1-based global rank in (quality_score DESC, doc_id) order
    * with NO single-task window — the chunked prefix-sum scheme (chunk
    * keys per-row, ≤driver-sized chunk histogram prefix-summed, local
    * rank under per-chunk window partitions) shared by the curriculum
    * ntile (F33) and the training-order shuffle (F55). Returns the
    * ranked frame and the total row count. */
  def exactGlobalRank(scored: DataFrame, nChunks: Int): (DataFrame, Long) = {
    import org.apache.spark.sql.expressions.Window
    val spark = scored.sparkSession
    import spark.implicits._
    val (keyed, counts) = curriculumChunkKeys(scored, nChunks)
    var acc = 0L
    val offs = counts.map { case (k, c) => val o = (k, acc); acc += c; o }
    val offDf = offs.toDF("ckey", "chunk_off")
    val wLocal = Window.partitionBy(col("ckey"))
      .orderBy(col("quality_score").desc, col("doc_id"))
    (keyed.join(broadcast(offDf), Seq("ckey"))
      .withColumn("rank", col("chunk_off") + row_number().over(wLocal)), acc)
  }

  def curriculumBuckets(scored: DataFrame, nBuckets: Int, nChunks: Int): DataFrame = {
    val (ranked, total) = exactGlobalRank(scored, nChunks)
    // SQL-standard ntile: the first (total mod n) buckets take
    // ceil(total/n) rows, the rest floor(total/n)
    val nBig = total % nBuckets
    val szBig = total / nBuckets + (if (nBig > 0) 1L else 0L)
    val szSmall = total / nBuckets
    val cut = nBig * szBig
    ranked
      .withColumn("bucket",
        when(col("rank") <= cut, (col("rank") - 1) / szBig)
          .otherwise(lit(nBig) + (col("rank") - 1 - cut) / lit(math.max(szSmall, 1L))))
      .withColumn("bucket", (col("bucket").cast("long") + 1).cast("int"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        round(max(col("quality_score")), 4).as("max_score"),
        round(min(col("quality_score")), 4).as("min_score"),
        sum(col("n_words")).cast("long").as("n_tokens"),
        sum(col("doc_id")).cast("long").as("id_checksum"))
      .orderBy(col("bucket"))
  }

  /** H4: the composed training-data pipeline — the LLM-data counterpart
    * of the config pipeline (H1): one declarative run that takes a raw
    * document corpus through the canonical preparation chain and reports
    * per-stage survivor lineage:
    *
    *   ingest → Gopher quality gate (F31) → fingerprint dedup, first doc
    *   wins (F2) → decontamination against the benchmark split (F26) →
    *   sequence packing summary (F25's straddling semantics).
    *
    * Every stage reuses the SAME shared builders as its standalone
    * operator ([[gopherMeasure]]/[[gopherKeepCond]], [[Dedup.fingerprint]],
    * [[wordGrams]]), so pipeline verdicts can never drift from the
    * per-operator queries. Stage frames are locally checkpointed once and
    * feed both the next stage and the lineage aggregate (the
    * tfidf/contamination convention); the five stage rows assemble from
    * four 1-row aggregates crossJoined broadcast-style and unpivoted with
    * `stack` — no driver-side collect. Because packing lets documents
    * straddle pack boundaries, the pack count is exactly
    * ceil(total_tokens / capacity) — no prefix-sum pass is needed for the
    * SUMMARY (the per-pack detail remains [[packChunks]]). */
  def traindataPipeline(spark: SparkSession, dir: String, capacity: Long = 2048L,
      benchMod: Long = 97L, n: Int = 5, minStop: Long = 1L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = Tables(spark, dir)
    val docs = t.documents.select(col("doc_id"), col("text"))
    // Tokenize ONCE: gopherMeasure carries `toks`, and every later stage
    // (ingest lineage, fingerprint, n-gram screen) reuses that column
    // instead of re-splitting text — at corpus scale the tokenizer is the
    // dominant per-row cost, and this plan runs it exactly once for the
    // corpus (plus once for the 1/benchMod bench split).
    val measured = gopherMeasure(docs)
      .select(col("doc_id"), col("toks"), col("n_words").as("n_tok"),
        gopherKeepCond(minStop = minStop).as("keep"))
      .localCheckpoint(true)
    // stage 2: Gopher gate. The stop-word floor is configurable and runs
    // at 1 here: the synthetic corpus's vocabulary carries at most ONE of
    // the eight required stop words (audited by F31), so the published
    // floor of 2 would zero the corpus and every later stage with it —
    // a gate tuned to the corpus beats a pipeline that filters everything.
    val g = measured.filter(col("keep")).select(col("doc_id"), col("toks"), col("n_tok"))
    // stage 3: fingerprint dedup, first doc wins within each group
    val wFp = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    val d = g.withColumn("fp", Dedup.fingerprintOfToks(col("toks")))
      .withColumn("rn", row_number().over(wFp)).filter(col("rn") === 1)
      .select(col("doc_id"), col("toks"), col("n_tok"))
      .localCheckpoint(true)
    // stage 4: decontaminate — bench split comes from the ORIGINAL corpus
    // (an eval doc filtered by quality still contaminates), bench docs
    // leave the training pool, and any surviving doc sharing a word
    // n-gram with the bench set is dropped
    val benchGrams = docs.filter(col("doc_id") % benchMod === 0)
      .select(explode(array_distinct(wordGrams(tokens(col("text")), n))).as("gram"))
      .distinct()
    val pool = d.filter(col("doc_id") % benchMod =!= 0)
    val contaminated = pool
      .select(col("doc_id"),
        explode(array_distinct(wordGrams(col("toks"), n))).as("gram"))
      .join(broadcast(benchGrams), Seq("gram"))
      .select(col("doc_id")).distinct()
    val c = pool.join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("n_tok")).localCheckpoint(true)
    // lineage: four 1-row aggregates → one row → five stage rows
    def stageAgg(df: DataFrame, p: String): DataFrame = df.agg(
      count(lit(1)).cast("long").as(s"${p}_docs"),
      coalesce(sum(col("n_tok")), lit(0L)).cast("long").as(s"${p}_toks"),
      coalesce(sum(col("doc_id")), lit(0L)).cast("long").as(s"${p}_ids"))
    stageAgg(measured, "a").crossJoin(stageAgg(g, "b"))
      .crossJoin(stageAgg(d, "c")).crossJoin(stageAgg(c, "e"))
      .selectExpr(
        s"""stack(5,
           | 1, 'ingest',            a_docs, a_docs, a_toks, a_ids,
           | 2, 'gopher_filter',     a_docs, b_docs, b_toks, b_ids,
           | 3, 'dedup_fingerprint', b_docs, c_docs, c_toks, c_ids,
           | 4, 'decontaminate',     c_docs, e_docs, e_toks, e_ids,
           | 5, 'pack_chunks',       e_docs,
           |    CAST(CASE WHEN e_toks = 0 THEN 0
           |         ELSE (e_toks - 1) div $capacity + 1 END AS BIGINT),
           |    e_toks, e_ids
           |) AS (stage_ord, stage, units_in, units_out, tokens_out, id_checksum)
           |""".stripMargin)
      .orderBy(col("stage_ord"))
  }

  /** F31: the Gopher/MassiveText document-quality rule set (Rae et al.
    * 2021, A1.1) as a typed filter — the published thresholds, not a
    * generic score: word count in [50, 100k], mean word length in [3, 10],
    * symbol-to-word ratio ≤ 0.1 ('#' and ellipses), ≤ 90% bullet-started
    * lines, ≤ 30% ellipsis-ended lines, ≥ 80% of words with an alphabetic
    * character, and ≥ 2 of the 8 required stop words. Complements [[quality]]
    * (a composite score) and [[repetition]] (the dup-n-gram Gopher rule)
    * with the document-shape rules between them. Per-row, zero-shuffle. */
  def gopherRules(spark: SparkSession, dir: String): DataFrame =
    gopherAudit(Tables(spark, dir).documents.select(col("doc_id"), col("text")))

  /** F37: character-entropy filter — the distribution-shape quality
    * signal the ratio rules (F9/F31) cannot see: base64 blobs, hex dumps
    * and key-mash junk have near-uniform character statistics (entropy
    * high), while template/repetition junk collapses them (entropy low);
    * natural text sits in a stable band. Shannon entropy over the
    * lowercased character histogram: ONE explode pass compressed to
    * (doc, char, cnt) — bounded by alphabet size per doc, the F20
    * compression — then H = ln(n) − Σ cnt·ln(cnt)/n per doc, an
    * algebraically regrouped −Σ p·ln p whose terms are integer-derived
    * (cross-engine float noise only in the final rounded sum). Flags
    * come from the unrounded value (the F31 convention). */
  def charEntropy(spark: SparkSession, dir: String, loBits: Double = 1.5,
      hiBits: Double = 4.8): DataFrame =
    charEntropyOver(Tables(spark, dir).documents.select(col("doc_id"), col("text")),
      loBits, hiBits)

  /** The F37 core over an explicit (doc_id, text) frame, so specs can
    * plant repetition collapse and uniform junk. */
  def charEntropyOver(docs: DataFrame, loBits: Double, hiBits: Double): DataFrame = {
    val lowered = lower(col("text"))
    val chars = when(length(lowered) > 0,
        transform(sequence(lit(1), length(lowered)), i => lowered.substr(i, lit(1))))
      .otherwise(array().cast("array<string>"))
    val dc = docs.select(col("doc_id"), explode(chars).as("ch"))
      .groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("cnt"))
    // H (nats) = ln(n) − Σ cnt·ln(cnt) / n; in bits: / ln 2
    dc.groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n"), count(lit(1)).as("n_distinct"),
        sum(col("cnt") * log(col("cnt").cast("double"))).as("s"))
      .select(col("doc_id"), col("n").cast("long").as("n_chars_m"),
        col("n_distinct").cast("long").as("n_distinct"),
        round((log(col("n").cast("double")) - col("s") / col("n")) / math.log(2.0), 4)
          .as("entropy_bits"),
        (((log(col("n").cast("double")) - col("s") / col("n")) / math.log(2.0)) < loBits ||
          ((log(col("n").cast("double")) - col("s") / col("n")) / math.log(2.0)) > hiBits)
          .cast("int").as("flag_junk"))
      .orderBy(col("doc_id"))
  }

  /** F40: domain divergence — the measurement BEHIND mixture design
    * ([[domainMix]] reweights by volume; this says which sources are
    * actually DIFFERENT): per source, the Jensen-Shannon divergence
    * between its unigram distribution and the whole corpus's. JSD is
    * symmetric and bounded in [0,1] bit — comparable across sources —
    * and splits into a present-terms sum plus a CLOSED FORM for every
    * term the source lacks (a p=0 term contributes ½·g·ln2, so the
    * absent-vocabulary mass is ½·ln2·(1 − Σ_present g) — no
    * full-vocabulary enumeration per source, the term that would
    * otherwise make this |sources|×|vocab|). Shape: ONE tokens explode
    * compressed to (source, term, count) and checkpointed; global term
    * weights join back on the term key; one hash-agg per source. Sum
    * terms are integer-count-derived; only the final rounded sum is
    * float (the F37 convention). */
  def domainDivergence(spark: SparkSession, dir: String): DataFrame =
    domainDivergenceOver(
      Tables(spark, dir).documents.select(col("source"), col("text")))

  /** The F40 core over an explicit (source, text) frame, so specs can
    * plant identical / disjoint source vocabularies. */
  def domainDivergenceOver(docs: DataFrame): DataFrame = {
    val tc = docs
      .select(col("source"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val srcTot = tc.groupBy(col("source")).agg(sum(col("c")).as("ns"))
    val termTot = tc.groupBy(col("term")).agg(sum(col("c")).as("ct"))
    val nTot = tc.agg(sum(col("c"))).head().getLong(0).toDouble
    val p = col("c").cast("double") / col("ns")
    val g = col("ct").cast("double") / nTot
    val m = (p + g) / 2.0
    tc.join(termTot, Seq("term"))
      .join(broadcast(srcTot), Seq("source"))
      .groupBy(col("source"))
      .agg(max(col("ns")).cast("long").as("n_tokens"),
        count(lit(1)).as("n_terms"),
        // present-terms JSD mass + the closed-form absent-terms mass
        ((sum(p * log(p / m) + g * log(g / m)) +
          (lit(1.0) - sum(g)) * math.log(2.0)) / (2.0 * math.log(2.0))).as("jsd"))
      .select(col("source"), col("n_tokens"), col("n_terms"),
        round(col("jsd"), 4).as("jsd_bits"))
      .orderBy(col("source"))
  }

  /** The |sources|-row (source, n_docs, n_tokens) rollup both mixture
    * passes (F35/F44) start from — ONE tokenize scan with map-side
    * partials, checkpointed so the totals branch reads these rows
    * instead of re-tokenizing the corpus (the dominant cost). */
  private def sourceTokenRollup(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("source"), size(tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .localCheckpoint(true)

  /** F44: temperature-scaled source mixing (the mT5/multilingual
    * convention, Xue et al. 2021: sampling probability ∝ shareᵅ with
    * α < 1) — the smooth generalization of F35's downsample-to-uniform:
    * α = 1 reproduces the corpus mix, α → 0 approaches uniform, and the
    * standard α = 0.3 boosts low-resource sources without drowning the
    * head. Because q_i = p_iᵅ / Σ p_jᵅ, the total-token term cancels and
    * the whole computation is one |sources|-row aggregate (the F35
    * checkpointed rollup) plus per-row pow — a single partial-agg corpus
    * scan at any scale, no second tokenize. `boost` = q/p is the
    * per-source up/down-weight a sampler applies; expected tokens use
    * the ROUNDED probability so the oracle's floor is bit-stable. */
  def temperatureMix(spark: SparkSession, dir: String, alpha: Double = 0.3): DataFrame = {
    val perSource = sourceTokenRollup(spark, dir)
    val withPw = perSource.withColumn("pw", pow(col("n_tokens").cast("double"), alpha))
    val totals = withPw.agg(sum(col("n_tokens")).as("tot"), sum(col("pw")).as("pw_sum"))
    withPw.crossJoin(broadcast(totals))
      .withColumn("actual_share", col("n_tokens").cast("double") / col("tot"))
      .withColumn("sample_prob", round(col("pw") / col("pw_sum"), 6))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("actual_share"), 6).as("actual_share"),
        col("sample_prob"),
        round((col("pw") / col("pw_sum")) / col("actual_share"), 6).as("boost"),
        floor(col("tot") * col("sample_prob")).cast("long").as("expected_tokens"))
      .orderBy(col("source"))
  }

  /** F35: domain-mixture reweighting — the static data-mixing pass every
    * multi-source training corpus runs (The Pile / MassiveText publish
    * exactly such per-source weights): measure each source's share of the
    * token budget and compute the DOWNSAMPLE-ONLY weight that moves the
    * mixture toward the uniform target (weight = min(1, target/actual) —
    * a source below target keeps everything rather than inventing
    * repeats; upsampling is an epochs decision, not a filter). Output per
    * source: docs, ws tokens, actual share, sampling weight, and the
    * expected post-weight token count. Shape: one hash-agg on `source`
    * (map-side partials) + one broadcast of the 1-row total — no window,
    * no second corpus pass; at 100 TB this is a single partial-agg scan. */
  def domainMix(spark: SparkSession, dir: String): DataFrame = {
    val perSource = sourceTokenRollup(spark, dir)
    val totals = perSource.agg(
      sum(col("n_tokens")).as("tot_tokens"),
      count(lit(1)).as("n_sources"))
    perSource.crossJoin(broadcast(totals))
      .withColumn("actual_share", col("n_tokens").cast("double") / col("tot_tokens"))
      .withColumn("weight",
        least(lit(1.0), (lit(1.0) / col("n_sources")) / col("actual_share")))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("actual_share"), 6).as("actual_share"),
        round(col("weight"), 6).as("weight"),
        floor(col("n_tokens") * col("weight")).cast("long").as("expected_tokens"))
      .orderBy(col("source"))
  }

  /** F36: CCNet-style perplexity buckets (Wenzek et al. 2020: per
    * LANGUAGE, split the corpus into head/middle/tail terciles by LM
    * score — the standard quality-tiering pass before sampling). Scores
    * come from the SAME corpus-trained bigram LM as [[lmScore]] (rounded
    * to 3 decimals exactly as published there, which also makes the
    * cross-engine ordering stable); the per-language tercile is an exact
    * ntile(3) computed WITHOUT a per-language global sort — the F33
    * chunked prefix-sum scheme with a (lang, score-range-chunk) composite
    * key: per-key counts collect driver-side (≤ |langs|·nChunks rows),
    * prefix-sum per language, rank locally per composite key, and the
    * SQL-standard tercile fill is integer math on the per-language rank.
    * Bit-identical to DuckDB's `ntile(3) OVER (PARTITION BY lang ...)`.
    * At 100 TB no task ever sees more than one score-range chunk of one
    * language (the F33 skew guard is the hardening path if a language's
    * scores collapse into one range). */
  def ccnetBuckets(spark: SparkSession, dir: String, nChunks: Int = 32): DataFrame = {
    val t = Tables(spark, dir)
    ccnetBucketsOver(
      lmScore(spark, dir)
        .join(t.documents.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("avg_logprob")),
      nChunks)
  }

  /** The F36 core over an explicit (doc_id, lang, avg_logprob) frame, so
    * specs can plant degenerate corpora (empty input included). */
  def ccnetBucketsOver(scoredIn: DataFrame, nChunks: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = scoredIn.sparkSession
    import spark.implicits._
    val scored = scoredIn.localCheckpoint(true)
    // global score bounds: one tiny agg; chunk ids DESCEND with score so
    // ascending (lang, chunk) order is rank order within each language.
    // An empty corpus yields a null aggregate — bounds then don't matter
    // (every later stage is empty-safe), they only must not throw.
    val b = scored.agg(min(col("avg_logprob")), max(col("avg_logprob"))).head()
    val (mn, mx) = if (b.isNullAt(0)) (0.0, 0.0) else (b.getDouble(0), b.getDouble(1))
    val chunk =
      if (mx > mn)
        least(lit(nChunks - 1), greatest(lit(0),
          floor((lit(mx) - col("avg_logprob")) / (mx - mn) * nChunks))).cast("int")
      else lit(0)
    val keyed = scored.withColumn("chunk", chunk)
    val hist = keyed.groupBy(col("lang"), col("chunk")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .sortBy(x => (x._1, x._2))
    // per-language prefix offsets + totals (driver math on the histogram)
    val offs = hist.groupBy(_._1).toSeq.flatMap { case (lang, rows) =>
      var acc = 0L
      rows.sortBy(_._2).toSeq.map { case (_, c, n) => val o = (lang, c, acc); acc += n; o }
    }
    val totals = hist.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap.toSeq
    val offDf = offs.toDF("lang", "chunk", "off")
    val totDf = totals.toDF("lang", "lang_total")
    val wLocal = Window.partitionBy(col("lang"), col("chunk"))
      .orderBy(col("avg_logprob").desc, col("doc_id"))
    // SQL-standard ntile(3) fill from the per-language global rank
    // (Column `/` is DOUBLE division — every quotient here goes through
    // an explicit floor so the fill math stays integral)
    val nB = 3
    val nBig = col("lang_total") % nB
    val szSmall = floor(col("lang_total") / nB)
    val szBig = szSmall + when(nBig > 0, 1L).otherwise(0L)
    val cut = nBig * szBig
    keyed
      .join(broadcast(offDf), Seq("lang", "chunk"))
      .join(broadcast(totDf), Seq("lang"))
      .withColumn("rank", col("off") + row_number().over(wLocal))
      .withColumn("bucket",
        when(col("rank") <= cut, floor((col("rank") - 1) / szBig))
          .otherwise(nBig + floor((col("rank") - 1 - cut) / greatest(szSmall, lit(1L)))))
      .withColumn("bucket", (col("bucket").cast("long") + 1).cast("int"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        round(max(col("avg_logprob")), 3).as("max_score"),
        round(min(col("avg_logprob")), 3).as("min_score"),
        sum(col("doc_id")).cast("long").as("id_checksum"))
      .orderBy(col("lang"), col("bucket"))
  }

  /** F45: DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling") — score every raw doc by
    * how target-like it is under two hashed-n-gram bag-of-words models:
    * log w(d) = Σ_b c_d(b)·(ln p̂_tgt(b) − ln p̂_raw(b)), features =
    * unigrams + bigrams ([[wordGrams]]) hashed into `nBuckets` buckets
    * (the paper uses 10⁴; 4096 here), both distributions Laplace-smoothed
    * (c+1)/(C+B). The designated `target` source stands in for the
    * paper's Wikipedia/books target corpus.
    * Shape: ONE tokenize+explode compressed to (doc_id, is_tgt, bucket,
    * c) and checkpointed (≤ B distinct buckets per doc regardless of doc
    * length); BOTH distributions come from one conditional hash-agg over
    * that frame (B rows out); per-doc weights re-read the same frame and
    * broadcast-join the B-row log-ratio table — no second corpus
    * tokenize, no window, no global sort. The paper's Gumbel top-k
    * resample is the sampler's move; the deterministic artifact is the
    * per-doc log-weight (counts are integers, only the final sum is
    * float, rounded 4; the target-like flag tests the ROUNDED value so
    * both engines decide identically). */
  def dsirWeights(spark: SparkSession, dir: String, target: String = "src0",
      nBuckets: Int = 4096): DataFrame =
    dsirWeightsOver(
      Tables(spark, dir).documents.select(col("doc_id"), col("source"), col("text")),
      target, nBuckets)

  /** The F45 core over an explicit (doc_id, source, text) frame, so specs
    * can plant target/off-target vocabularies. */
  def dsirWeightsOver(docs: DataFrame, target: String, nBuckets: Int = 4096): DataFrame = {
    val feats = docs
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), (col("source") === target).as("is_tgt"),
        explode(concat(col("toks"), wordGrams(col("toks"), 2))).as("term"))
      .select(col("doc_id"), col("is_tgt"),
        (conv(substring(md5(col("term")), 1, 8), 16, 10).cast("long") % nBuckets)
          .as("bucket"))
      .groupBy(col("doc_id"), col("is_tgt"), col("bucket"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val dist = feats.groupBy(col("bucket"))
      .agg(sum(col("c")).as("c_raw"),
        sum(when(col("is_tgt"), col("c")).otherwise(0L)).as("c_tgt"))
    val tot = dist.agg(sum(col("c_raw")).as("t_raw"), sum(col("c_tgt")).as("t_tgt"))
    val lw = dist.crossJoin(broadcast(tot))
      .select(col("bucket"),
        (log((col("c_tgt") + 1).cast("double") / (col("t_tgt") + nBuckets)) -
          log((col("c_raw") + 1).cast("double") / (col("t_raw") + nBuckets))).as("lr"))
    feats.join(broadcast(lw), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("long").as("n_feats"),
        round(sum(col("c") * col("lr")), 4).as("dsir_logw"))
      .select(col("doc_id"), col("n_feats"), col("dsir_logw"),
        (col("dsir_logw") > 0).cast("int").as("flag_target_like"))
      .orderBy(col("doc_id"))
  }

  /** F70: CODE-vs-PROSE detection — the routing signal a pretraining
    * mixer reads before anything else (code and prose go to different
    * dedup/quality/packing recipes, and the code fraction is itself a
    * tuned mixture knob). Classification by symbol-density: the
    * fraction of characters from the code alphabet (braces, brackets,
    * operators, semicolons) in exact integer PPM — prose sits near 0,
    * real code in the 5-15% band — thresholded at `barPpm`. The corpus
    * is prose-only, so every 6th doc gets a deterministic planted
    * snippet prepended (the piiScrub wire convention): the classifier
    * must separate exactly the planted class.
    *
    * Scale shape: per-row regexp_replace + length arithmetic (codegen'd,
    * zero shuffle) + one |2|-row rollup — the F9 quality-audit shape. */
  def textCodeDetect(spark: SparkSession, dir: String,
      barPpm: Long = 10000L): DataFrame = {
    val t = Tables(spark, dir)
    val snippet = "def f(x): return {x: [1, 2]}; // y = a && b | c "
    val wire = t.documents.select(col("doc_id"),
      when(col("doc_id") % 6 === 0, concat(lit(snippet), col("text")))
        .otherwise(col("text")).as("raw"))
    wire
      .withColumn("n_chars", length(col("raw")).cast("long"))
      .withColumn("n_sym",
        length(regexp_replace(col("raw"), "[^{}\\[\\]();:=<>&|/*+-]", ""))
          .cast("long"))
      .withColumn("sym_ppm", expr("n_sym * 1000000 div greatest(n_chars, 1)"))
      .withColumn("is_code", (col("sym_ppm") >= barPpm).cast("int"))
      .groupBy(col("is_code"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("sym_ppm")).as("min_sym_ppm"),
        max(col("sym_ppm")).as("max_sym_ppm"),
        sum(col("doc_id")).cast("long").as("id_checksum"))
      .orderBy(col("is_code"))
  }

  /** F68: DoReMi-style multiplicative-weights domain reweighting (Xie
    * et al. 2023) — the ITERATIVE domain-mixture optimizer next to the
    * one-shot reweighters (F35 static mix, F44 temperature, F45 DSIR):
    * each round multiplies every domain's weight by `1 + η·excess⁺`
    * (only domains with POSITIVE excess signal grow — DoReMi's clipped
    * excess-loss rule) and renormalizes to a distribution, all in exact
    * integer PPM (floor division everywhere), so the whole k-round
    * trajectory replays number-for-number in the oracle's unrolled
    * CTEs (the F53 pagerank convention). The excess signal here is the
    * measurable per-domain proxy available without a trained reference
    * model — mean document length vs the corpus mean, clipped at 0 —
    * where DoReMi proper plugs in per-domain excess LOSS; the update
    * machinery is the operator, the signal is a parameter.
    *
    * Scale shape: ONE partial-agg scan produces the |domains|-row stats
    * frame; the k rounds are |domains|-sized driver arithmetic (the
    * quantizer-collect convention) — at 100 TB the cost is the single
    * scan, the optimizer is free. */
  def sampleDoremi(spark: SparkSession, dir: String,
      etaPpm: Long = 100000L, rounds: Int = 5): DataFrame = {
    import spark.implicits._
    val t = Tables(spark, dir)
    val stats = t.documents
      .groupBy(col("source").as("domain"))
      .agg(count(lit(1)).as("n_docs"), sum(length(col("text"))).as("len_sum"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val cmean = stats.map(_._3).sum / stats.map(_._2).sum
    val doms = stats.map { case (dom, n, ls) =>
      val meanLen = ls / n
      (dom, n, meanLen, math.max(meanLen * 1000000L / cmean - 1000000L, 0L))
    }
    var w = doms.map(_ => 1000000L / doms.length)
    for (_ <- 1 to rounds) {
      val a = doms.zip(w).map { case ((_, _, _, ex), wi) =>
        wi * (1000000L + (ex * etaPpm) / 1000000L) / 1000000L
      }
      val tot = a.sum
      w = a.map(_ * 1000000L / tot)
    }
    doms.zip(w).map { case ((dom, n, meanLen, ex), wf) =>
      (dom, n, meanLen, ex, 1000000L / doms.length, wf)
    }.toSeq
      .toDF("domain", "n_docs", "mean_len", "excess_ppm", "w0_ppm", "w_final_ppm")
      .orderBy(col("domain"))
  }

  /** F78: MODEL-BASED quality scoring — the linear-classifier filter
    * modern corpus pipelines run AFTER the rule gates (the
    * DCLM/FineWeb-Edu move: Gopher rules F31 catch structural junk, a
    * trained scorer ranks the rest): a fixed-weight linear model over
    * integer quality features, scored in exact MICRO units so the
    * logit, the calibration bucket and the keep verdict replay
    * bit-for-bit. Weights are calibrated against the corpus feature
    * distribution (median logit ≈ −215k, p90 ≈ +89k) so the gate
    * genuinely separates — the keep rate is a real ~15–20%, not 0 or
    * 100 (a production scorer would learn the weights; the SERVING
    * shape — features, fixed weights, bucketed calibration — is what
    * this op pins down).
    *
    * Scale shape: per-row regexp/length arithmetic + one tokenizer
    * pass, zero shuffle (the F9 shape); everything integer. */
  def qualityModel(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    t.documents
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_words", size(col("toks")).cast("long"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("n_stop", hits(col("toks"), Seq("the", "a", "and", "of", "to")).cast("long"))
      .withColumn("n_alpha",
        length(regexp_replace(col("text"), "[^A-Za-z]", "")).cast("long"))
      .withColumn("stop_ppm", expr("n_stop * 1000000 div greatest(n_words, 1)"))
      .withColumn("alpha_ppm", expr("n_alpha * 1000000 div greatest(n_chars, 1)"))
      .withColumn("wlen_x100", expr("n_alpha * 100 div greatest(n_words, 1)"))
      .withColumn("logit_micro",
        expr("-700000 + least(n_words, 200) * 5000 + stop_ppm * 3 " +
          "+ (alpha_ppm - 800000) - abs(wlen_x100 - 450) * 2000"))
      .withColumn("bucket", expr("greatest(-4, least(4, logit_micro div 200000))"))
      .withColumn("keep", (col("logit_micro") > 0L).cast("int"))
      .select(col("doc_id"), col("n_words"), col("stop_ppm"), col("alpha_ppm"),
        col("wlen_x100"), col("logit_micro"), col("bucket"), col("keep"))
      .orderBy(col("doc_id"))
  }

  /** F73: BPE tokenizer TRAINING — the merge-table learner every
    * byte-pair tokenizer (GPT-2, SentencePiece-BPE, tiktoken) starts
    * from, expressed DECLARATIVELY: no per-word sequential code anywhere
    * — the classic "greedy leftmost non-overlapping merge" is window
    * arithmetic (candidate runs split into islands, even offsets win),
    * so both engines replay the identical algorithm and the whole merge
    * table is hash-checked. Each round: (1) count adjacent symbol pairs
    * weighted by word frequency, (2) adopt the (count DESC, pair ASC)
    * argmax as the round's merge, (3) apply it everywhere at once.
    * Output: one row per round — the learned merge, its corpus-weighted
    * pair count, and the corpus-weighted symbol total after the merge
    * (the compression trajectory).
    *
    * Scale design: the ONE corpus-sized job is the word count; every
    * BPE round then operates on the VOCABULARY frame (|vocab| · avg
    * word length rows — at 100 TB of text still millions, not
    * billions), partition-keyed windows on word_id only, per-round
    * lineage truncation, and a 1-row argmax collect per round (the
    * kcenter greedy convention). The deterministic (cnt DESC, word)
    * vocab cap bounds everything downstream of the first scan. */
  def bpeTrain(spark: SparkSession, dir: String, vocabCap: Int = 512,
      rounds: Int = 6): DataFrame =
    bpeTrainOf(Tables(spark, dir).documents, vocabCap, rounds)

  /** The F73 trainer over any (doc_id, text) frame — the spec feeds
    * corpora with hand-replayable merge dynamics (overlap runs, ties)
    * through the SAME path as the registered query. */
  def bpeTrainOf(documents: DataFrame, vocabCap: Int, rounds: Int): DataFrame =
    bpeRun(documents, vocabCap, rounds)._1

  /** The full F73 training state: (merge report, final per-word symbol
    * rows, capped vocabulary) — ONE trainer shared by the merge-table
    * query (F73) and the tokenizer apply step (F75), so the vocabulary
    * a document is counted against is exactly the one the published
    * merges were learned from. */
  def bpeRun(documents: DataFrame, vocabCap: Int,
      rounds: Int): (DataFrame, DataFrame, DataFrame) = {
    val spark = documents.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // (1) the one corpus-sized pass: word frequencies, capped
    // deterministically. The global row_number window runs over ≤
    // vocabCap rows (bounded by construction, the E31/F33 convention).
    val vocab = documents
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word")).limit(vocabCap)
      .withColumn("word_id",
        row_number().over(Window.orderBy(col("cnt").desc, col("word"))))
      .localCheckpoint(true)
    // (2) initial symbol state: one row per character position
    var syms = vocab
      .select(col("word_id"), col("cnt"),
        posexplode(filter(split(col("word"), ""), s => length(s) > 0))
          .as(Seq("pos", "sym")))
      .localCheckpoint(true)
    val w = Window.partitionBy(col("word_id")).orderBy(col("pos"))
    val report = Seq.newBuilder[(Long, String, String, Long, Long)]
    for (round <- 1 to rounds) {
      val paired = syms.withColumn("nxt", lead(col("sym"), 1).over(w))
      val bestRows = paired.filter(col("nxt").isNotNull)
        .groupBy(col("sym").as("l"), col("nxt").as("r"))
        .agg(sum(col("cnt")).as("pc"))
        .orderBy(col("pc").desc, col("l"), col("r")).limit(1).collect()
      if (bestRows.nonEmpty) {
        val (lSym, rSym, pc) =
          (bestRows(0).getString(0), bestRows(0).getString(1), bestRows(0).getLong(2))
        // (3) candidate positions → islands of CONSECUTIVE candidates →
        // greedy leftmost non-overlap = the even offsets of each island
        val wIsl = Window.partitionBy(col("word_id"), col("island")).orderBy(col("pos"))
        val merged = paired
          .filter(col("sym") === lSym && col("nxt") === rSym)
          .withColumn("brk",
            when(col("pos") - lag(col("pos"), 1).over(w) === 1, 0).otherwise(1))
          .withColumn("island",
            sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
          .withColumn("rn", row_number().over(wIsl))
          .filter(col("rn") % 2 === 1)
          .select(col("word_id"), col("pos"))
        // (4) apply everywhere at once: merged anchors adopt l||r, the
        // consumed right neighbors vanish, positions re-rank
        syms = syms
          .join(merged.withColumn("m", lit(1)), Seq("word_id", "pos"), "left")
          .join(merged.select(col("word_id"), (col("pos") + 1).as("pos"))
            .withColumn("g", lit(1)), Seq("word_id", "pos"), "left")
          .filter(col("g").isNull)
          .select(col("word_id"), col("cnt"),
            row_number().over(w).as("pos"),
            when(col("m") === 1, lit(lSym + rSym)).otherwise(col("sym")).as("sym"))
          .localCheckpoint(true)
        val nAfter = syms.agg(sum(col("cnt"))).head().getLong(0)
        report += ((round.toLong, lSym, rSym, pc, nAfter))
      }
    }
    (report.result()
      .toDF("round", "lhs", "rhs", "pair_count", "n_symbols_after")
      .orderBy(col("round")),
      syms, vocab)
  }

  /** F75: BPE tokenization — the APPLY step closing the F73 loop (train
    * → tokenize), and the token-count metric every context-length
    * budget, packing (F25) and pricing estimate actually needs: each
    * document's whitespace words look up their trained segmentation
    * length; out-of-vocabulary words fall back to character count (the
    * worst-case byte-level segmentation a merge table never covered).
    * Output per doc: word count, BPE token count, OOV word count.
    *
    * Scale shape: training is vocab-bounded (F73's argument); the apply
    * pass is ONE corpus scan joined against the |vocab|-row
    * segmentation table — explicitly broadcast, so no shuffle touches
    * the exploded word stream beyond the per-doc rollup. */
  def bpeTokens(spark: SparkSession, dir: String, vocabCap: Int = 512,
      rounds: Int = 6): DataFrame =
    bpeTokensOf(Tables(spark, dir).documents, vocabCap, rounds)

  /** The F75 compute over any (doc_id, text) frame. */
  def bpeTokensOf(documents: DataFrame, vocabCap: Int, rounds: Int): DataFrame = {
    val (_, syms, vocab) = bpeRun(documents, vocabCap, rounds)
    val seg = vocab.join(
        syms.groupBy(col("word_id")).agg(count(lit(1)).as("n_toks")),
        Seq("word_id"))
      .select(col("word"), col("n_toks"))
    documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .join(broadcast(seg), Seq("word"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(coalesce(col("n_toks"), length(col("word")).cast("long")))
          .as("n_tokens"),
        sum(when(col("n_toks").isNull, 1L).otherwise(0L)).as("n_oov"))
      .orderBy(col("doc_id"))
  }

  /** F92: LLM WATERMARK SCREEN — the green-list parity test (the
    * Kirchenbauer et al. 2023 scheme's detector, simplified to a fixed
    * half-vocabulary split): a watermarking sampler biases each token
    * toward a "green" subset keyed by its predecessor, so watermarked
    * text shows a green-bigram fraction far above the natural 1/2. Per
    * document: the bigram green count (green ⇔ bit 40 of
    * FNV-1a(prev∥cur) is 0 — the engine-independent hash the dedup
    * family already replays in DuckDB), the one-proportion z-score
    * against p = 1/2,
    * and a conservative z > 4 flag. The provenance screen a training-
    * data pipeline runs so model output doesn't recycle into the
    * corpus.
    *
    * Determinism contract: the shared tokenizer and word-bigram builder;
    * the hash is the engine's canonical FNV-1a (Fnv64 — a native
    * codegen expression); the green bit is bit 40, the lowest bit the
    * final input byte reaches DIRECTLY through the multiplier's 2^40
    * term (the LSB is parity-LINEAR in the input bytes since the
    * multiplier is odd, and bits the last multiply feeds only via
    * carries are heavily biased on short strings — both measured);
    * counts
    * exact integers, green share exact PPM, z = (2g−n)/√n one
    * fixed-shape double rounded 4. Documents with no bigram drop
    * (declared). Flags need n ≥ 20 pairs — below that the normal
    * approximation is noise.
    *
    * Scale shape: per-row higher-order functions ONLY (the bigram array
    * never explodes, the filter stays inside whole-stage codegen) —
    * zero shuffle, zero joins; the report is row-parallel. */
  def watermark(spark: SparkSession, dir: String): DataFrame =
    watermarkOf(spark, Tables(spark, dir).documents)

  /** The F92 compute over any (doc_id, text) frame — specs plant
    * all-green and balanced wires with closed-form z. */
  def watermarkOf(spark: SparkSession, documents: DataFrame): DataFrame = {
    // r17: one fused kernel pass — the old shape materialized the bigram
    // array (native since the wordGrams kernel) and then ran an
    // INTERPRETED filter lambda calling fnv64 per gram; greenPairs folds
    // tokenize → pair-hash → bit-40 test into a single codegen call with
    // zero gram strings (packed (n_pairs << 32) | n_green; spec-pinned
    // bit-identical to the fnv64-filter formulation in TextKernelsSpec)
    documents
      .withColumn("wm", graft.functions.TextKernels.greenPairsCol(col("text")))
      .withColumn("n_pairs", shiftright(col("wm"), 32))
      .filter(col("n_pairs") >= 1L)
      .withColumn("n_green", col("wm").bitwiseAND(lit(0xffffffffL)))
      .withColumn("green_ppm", expr("n_green * 1000000 div n_pairs"))
      .withColumn("z_score",
        round((lit(2.0) * col("n_green") - col("n_pairs"))
          / sqrt(col("n_pairs").cast("double")), 4))
      .withColumn("watermarked",
        (col("n_pairs") >= 20L && col("z_score") > 4.0).cast("int"))
      .select(col("doc_id"), col("n_pairs"), col("n_green"),
        col("green_ppm"), col("z_score"), col("watermarked"))
      .orderBy(col("doc_id"))
  }

  /** F93: BIGRAM CONDITIONAL ENTROPY per source — how predictable is
    * the NEXT word given the current one: H(w₂|w₁) = Σ p(w₁,w₂)·
    * ln(c(w₁)/c(w₁,w₂)). The sequence-axis repetitiveness measure the
    * filter family lacks: F37 sees the character distribution, F91 the
    * unigram vocabulary — a source whose every sentence is the same
    * template has rich unigrams but near-zero conditional entropy, and
    * it's exactly the low-H sources a dedup/quality pass should visit
    * first. Reported next to the unconditional bigram entropy so the
    * gap (mutual information) is read off directly.
    *
    * Determinism contract: the shared tokenizer/bigram builder; both
    * entropies assemble from exact integer (source, w₁, w₂) cells as
    * Σcnt·ln cnt terms — fixed-shape doubles over exact integers
    * rounded 4 (the F37 ln convention).
    *
    * Scale shape: ONE explode pass collapses the corpus to
    * vocab²-bounded bigram cells per source; context totals are a
    * second cells-sized agg joined back cells-to-cells (both sides
    * vocab-bounded, hash join); the report is sources-sized. */
  def bigramEntropy(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables(spark, dir).documents
      .select(col("source"),
        explode(wordGrams(tokens(col("text")), 2)).as("g"))
      .select(col("source"), split(col("g"), " ").getItem(0).as("w1"),
        split(col("g"), " ").getItem(1).as("w2"))
      .groupBy(col("source"), col("w1"), col("w2"))
      .agg(count(lit(1)).cast("long").as("cnt"))
      .localCheckpoint(true) // context totals and the entropy fold reread it
    val ctx = cells.groupBy(col("source"), col("w1"))
      .agg(sum(col("cnt")).cast("long").as("c1"))
    cells.join(ctx, Seq("source", "w1"))
      .groupBy(col("source"))
      .agg(sum(col("cnt")).cast("long").as("n_bigrams"),
        count(lit(1)).cast("long").as("n_distinct_bigrams"),
        countDistinct(col("w1")).cast("long").as("n_contexts"),
        sum(col("cnt").cast("double")
          * log(col("c1").cast("double") / col("cnt"))).as("hc"),
        sum(col("cnt").cast("double") * log(col("cnt").cast("double")))
          .as("slnc"))
      .withColumn("cond_entropy", round(col("hc") / col("n_bigrams"), 4))
      .withColumn("bigram_entropy",
        round(log(col("n_bigrams").cast("double"))
          - col("slnc") / col("n_bigrams"), 4))
      .select(col("source"), col("n_bigrams"), col("n_distinct_bigrams"),
        col("n_contexts"), col("cond_entropy"), col("bigram_entropy"))
      .orderBy(col("source"))
  }

  /** F95: RAKE KEYWORD EXTRACTION — the classic unsupervised keyphrase
    * ranker (Rose et al. 2010) corpus-wide: candidate phrases are the
    * maximal stopword-free token runs, each word scores degree/freq
    * (degree = Σ length of the phrases it appears in — words that live
    * in LONG phrases score high, ubiquitous single words score low),
    * and a phrase scores the sum of its words. The keyphrase view the
    * tf-idf top-terms (F17/F13) can't give: those rank WORDS, this
    * ranks multi-word UNITS, which is what a corpus summary or topic
    * label actually wants.
    *
    * Determinism contract: the shared tokenizer and the F9 stopword
    * list; phrase reassembly sorts on explicit positions (never
    * collect order); phrases cap at 4 tokens (declared — RAKE's
    * standard guard against run-on garbage); word scores are exact
    * integer PPM (degree·1e6 div freq), phrase scores exact integer
    * sums of them; the top-15 rank breaks ties by phrase string.
    *
    * Scale shape: ONE posexplode pass to (doc, pos, word) with the
    * stopword-island key — per-row arithmetic plus ONE per-doc window
    * (bounded by doc length); phrases collapse to corpus-wide cells;
    * word stats are a cells-sized agg broadcast back; report is 15
    * rows. */
  def rake(spark: SparkSession, dir: String, k: Int = 15,
      maxLen: Int = 4): DataFrame =
    rakeOf(Tables(spark, dir).documents, k, maxLen)

  /** The F95 compute over any (doc_id, text) frame — specs plant
    * hand-scorable phrase inventories. */
  def rakeOf(documents: DataFrame, k: Int, maxLen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stop = Seq("the", "a", "and", "of", "to")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // maximal stopword-free runs via the island key (pos − rank among
    // non-stop tokens); reassembly sorts on pos explicitly
    val phrases = documents
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "w")))
      .filter(!col("w").isin(stop.map(lit): _*))
      .withColumn("island", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("island"))
      .agg(array_join(transform(array_sort(collect_list(struct(col("pos"), col("w")))),
        s => s.getField("w")), " ").as("phrase"),
        count(lit(1)).cast("long").as("len"))
      .filter(col("len") <= maxLen.toLong)
      .select(col("phrase"), col("len"))
      .localCheckpoint(true) // word stats and phrase cells both reread it
    val words = phrases
      .select(explode(split(col("phrase"), " ")).as("w"), col("len"))
      .groupBy(col("w"))
      .agg(count(lit(1)).cast("long").as("freq"),
        sum(col("len")).cast("long").as("degree"))
      .withColumn("w_score", expr("degree * 1000000 div freq"))
    val scored = phrases
      .select(col("phrase"), explode(split(col("phrase"), " ")).as("w"))
      .join(broadcast(words.select(col("w"), col("w_score"))), Seq("w"))
      .groupBy(col("phrase"))
      .agg(count(lit(1)).cast("long").as("n_words_x_occ"),
        sum(col("w_score")).cast("long").as("score_sum"))
    val cells = phrases.groupBy(col("phrase"))
      .agg(count(lit(1)).cast("long").as("n_occurrences"))
      .join(scored, Seq("phrase"))
      // score_sum summed over every occurrence — normalize back to the
      // per-phrase word-score sum (exact: score_sum div n_occurrences)
      .withColumn("score_ppm", expr("score_sum div n_occurrences"))
      .select(col("phrase"), col("n_occurrences"), col("score_ppm"))
    val wr = Window.orderBy(col("score_ppm").desc, col("phrase"))
    cells.withColumn("rank", row_number().over(wr).cast("long"))
      .filter(col("rank") <= k.toLong)
      .select(col("rank"), col("phrase"), col("n_occurrences"), col("score_ppm"))
      .orderBy(col("rank"))
  }

  /** F91: LEXICAL DIVERSITY per document — the vocabulary-richness
    * battery quality filters read next to F9's surface stats: type-token
    * ratio (and its length-robust variants root-TTR and Herdan's C,
    * since raw TTR collapses as documents grow) plus the hapax share
    * (fraction of the vocabulary used exactly once — high hapax =
    * exploratory prose or noise, low = boilerplate/template). F37's
    * character entropy sees the BYTE distribution; this sees the WORD
    * distribution — template spam with diverse characters but a looping
    * vocabulary fools the former and not this.
    *
    * Determinism contract: the shared whitespace tokenizer; TTR and
    * hapax share in exact integer PPM; root-TTR and Herdan's C are one
    * fixed-shape double expression each over exact integer counts,
    * rounded 4 (the F37 convention); a single-token document reports
    * NULL Herdan (ln 1 = 0 denominator, nullif-guarded identically in
    * both engines). Empty documents drop (no tokens — declared).
    *
    * Scale shape: the F17 explode — ONE pass to (doc, term) count cells
    * partitioned by doc_id, then a doc-sized agg on the SAME
    * partitioning (no second exchange); per-row report, zero joins. */
  def lexicalDiversity(spark: SparkSession, dir: String): DataFrame =
    lexicalDiversityOf(Tables(spark, dir).documents)

  /** The F91 compute over any (doc_id, text) frame — specs plant
    * looping-vocabulary and all-distinct wires with closed-form ratios. */
  def lexicalDiversityOf(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).cast("long").as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("n_types"),
        sum((col("cnt") === 1L).cast("long")).cast("long").as("n_hapax"))
      .withColumn("ttr_ppm", expr("n_types * 1000000 div n_tokens"))
      .withColumn("root_ttr",
        round(col("n_types") / sqrt(col("n_tokens").cast("double")), 4))
      .withColumn("herdan_c",
        round(log(col("n_types").cast("double"))
          / nullif(log(col("n_tokens").cast("double")), lit(0.0)), 4))
      .withColumn("hapax_ppm", expr("n_hapax * 1000000 div n_types"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"), col("n_hapax"),
        col("ttr_ppm"), col("root_ttr"), col("herdan_c"), col("hapax_ppm"))
      .orderBy(col("doc_id"))
}
