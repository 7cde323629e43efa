package graft.operators

import graft._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM data pipelines over `documents`:
  * per-document statistics & quality scoring, stopword-profile language
  * identification, token counting (whitespace + regex/BPE-ish), and
  * content fingerprinting.
  *
  * Everything is map-side (projection-only — no shuffle at any scale);
  * ratios are derived from exact integer counts so the doubles are
  * bit-identical to the oracle's.
  */
object TextAnalysis {

  private[operators] val stopEn = Seq("the", "a", "and", "of", "to", "in", "is")
  private val stopEs = Seq("el", "la", "de", "que", "y", "en", "un")
  private val stopDe = Seq("der", "die", "das", "und", "ist", "ein", "zu")
  private val stopFr = Seq("le", "la", "de", "et", "un", "est", "que")

  private[operators] def inList(xs: Seq[String]) = xs.map(w => s"'$w'").mkString("(", ",", ")")

  /** Multinomial Naive Bayes language classifier with add-1 smoothing —
    * the train/apply supervised-classifier shape (count-based model fit
    * on one half of the corpus, scored on the other) behind fastText-
    * style language ID and quality classifiers. Train on even doc_ids
    * (lang is the label, words the features), predict the language of
    * each odd doc_id: argmax_c [ ln P(c) + Σ_w m_w · ln P(w|c) ] with
    * P(w|c) = (cnt(w,c)+1)/(tot_c+V). Out-of-vocabulary words are
    * skipped (the standard multinomial convention); words unseen in a
    * class fall into its smoothed cnt=0 bucket.
    *
    * Determinism: per (doc, class), word terms are grouped by their
    * class-count cnt (distinct within the group by construction), the
    * (cnt, m) pairs are sorted, and the log-likelihood folds in that
    * fixed order from the log-prior — the same sorted-fold contract
    * [[qLmPerplexity]] uses, so the double sum is order-identical to
    * the oracle's. Argmax ties break on the rounded score, then class
    * name.
    *
    * Scale shape: model fit is one map-side-combined (class, word)
    * count; scoring joins the test words against the model keyed by
    * word (the model relation is vocabulary-sized — broadcast when it
    * fits, shuffle-keyed beyond), fans out by the constant class count,
    * and reduces per (doc, class). No all-pairs, no driver loop. */
  private def nbScored(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val docs = Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text"))
    val train = docs.filter(col("doc_id") % 2 === 0)
    val test = docs.filter(col("doc_id") % 2 === 1)
    val cnts = graft.CacheTracker.track(
      train.select(col("lang").as("c"), explode(split(col("text"), " ")).as("word"))
        .groupBy("c", "word").agg(count(lit(1)).as("cnt"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val classTot = cnts.groupBy("c").agg(sum("cnt").cast("long").as("tot"))
    val vsize = cnts.select("word").distinct().agg(count(lit(1)).as("v"))
    val priors = train.groupBy(col("lang").as("c")).agg(count(lit(1)).as("ndc"))
      .crossJoin(broadcast(train.agg(count(lit(1)).as("nd"))))
    val vocab = cnts.select("word").distinct()
    val testw = test
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("word"))
      .groupBy("doc_id", "lang", "word").agg(count(lit(1)).as("m"))
      .join(vocab, "word")
    val probe = testw.crossJoin(broadcast(classTot))
      .join(cnts, Seq("c", "word"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
    probe.groupBy("doc_id", "lang", "c", "tot", "cnt").agg(sum("m").as("mt"))
      .groupBy("doc_id", "lang", "c", "tot")
      .agg(sort_array(collect_list(struct(col("cnt"), col("mt")))).as("terms"))
      .crossJoin(broadcast(vsize))
      .join(broadcast(priors), "c")
      .withColumn("score_r", round(expr(
        """aggregate(terms, ln(CAST(ndc AS DOUBLE) / nd),
          |  (acc, x) -> acc + x.mt * ln((x.cnt + 1.0) / (tot + v)))""".stripMargin), 6))
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(desc("score_r"), col("c"))))
  }

  def qNaiveBayes(s: SparkSession, d: String): DataFrame =
    nbScored(s, d)
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("c").as("pred_lang"),
        col("score_r").as("logscore"), (col("c") === col("lang")).as("correct"))

  /** Uncertainty sampling for active learning (Lewis & Gale 1994's
    * margin criterion): the 20 held-out documents whose [[qNaiveBayes]]
    * top-two class scores are closest — exactly the examples a labeling
    * budget should be spent on, since the model is least decided there.
    * Margin = logscore(top1) − logscore(top2) on the rounded scores
    * (deterministic, same tie-breaks as the classifier); smallest
    * margins first, doc_id tie-break, top-20 via TakeOrderedAndProject.
    *
    * Scale shape: inherits the classifier's plan; the margin is one
    * `lead` over the existing per-doc rank window (same partitioning,
    * no extra shuffle) and the selection is a bounded top-k. */
  def qActiveLearning(s: SparkSession, d: String): DataFrame =
    nbScored(s, d)
      .withColumn("next_score", lead(col("score_r"), 1).over(
        Window.partitionBy("doc_id").orderBy(desc("score_r"), col("c"))))
      .filter(col("rn") === 1)
      // a margin needs TWO classes: on a single-class corpus lead()
      // is NULL and asc ordering would float those docs to the top,
      // where the oracle's inner join on rn = 2 drops them — filter to
      // match (identity whenever the training set has ≥ 2 classes)
      .filter(col("next_score").isNotNull)
      .select(col("doc_id"), col("lang"), col("c").as("pred_lang"),
        round(col("score_r") - col("next_score"), 6).as("margin"))
      .orderBy(col("margin"), col("doc_id"))
      .limit(20)

  /** Kneser–Ney smoothed bigram language model (absolute discounting
    * D = 0.75 with the continuation-probability backoff from Kneser &
    * Ney 1995) — the n-gram LM estimation step that sits one level up
    * from [[qLmPerplexity]]'s char-gram scorer: KN's continuation count
    * ("in how many distinct left contexts does w appear") is what makes
    * low-frequency-but-versatile words score sensibly, and it is the
    * smoothing every KenLM-style corpus LM ships.
    *
    * p_KN(w2|w1) = (c12 − D)/c1 + (D·N₁₊(w1·)/c1) · N₁₊(·w2)/|bigram
    * types|, reported for the top-30 bigrams next to the unsmoothed MLE
    * ratio. Every term is an exact integer count; the probability is a
    * fixed dag of double ops evaluated identically in both engines.
    *
    * Scale shape: one bigram groupBy (the corpus-sized shuffle, map-side
    * combined), then three counts keyed by w1 / w2 / global over the
    * TYPE relation (vocabulary-sized, not corpus-sized); the final
    * top-30 is TakeOrderedAndProject. Left-context totals and type
    * fan-outs come from ONE pass over the bigram relation each. */
  def qKneserNey(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val bg = graft.CacheTracker.track(
      Tables.documents(s, d)
        .select(split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(ws) - 1), i -> struct(ws[i - 1] AS w1, ws[i] AS w2))"))
          .as("b"))
        .select(col("b.w1"), col("b.w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val left = bg.groupBy("w1").agg(sum("c12").cast("long").as("c1"), count(lit(1)).as("nf"))
    val right = bg.groupBy("w2").agg(count(lit(1)).as("nb"))
    val btot = bg.agg(count(lit(1)).as("btot"))
    bg.join(left, "w1").join(right, "w2").crossJoin(broadcast(btot))
      .select(col("w1"), col("w2"), col("c12"), col("c1"),
        round(col("c12").cast("double") / col("c1"), 6).as("p_mle"),
        round(expr("(c12 - 0.75D) / c1 + (0.75D * nf / c1) * (CAST(nb AS DOUBLE) / btot)"), 6)
          .as("p_kn"))
      .orderBy(desc("c12"), col("w1"), col("w2"))
      .limit(30)
  }

  /** Feature-hashing (hashing-trick) collision audit: every vocabulary
    * word maps to one of 256 hash buckets (16-bit md5 prefix mod 256 —
    * the same deterministic coin the curation samplers use), and the
    * audit reports each bucket's type load and token mass against the
    * uniform ideal. This is the readout that sizes the hash dimension
    * before training a hashed bag-of-words model: load_ratio far above
    * 1 on hot buckets means feature collisions are destroying signal.
    *
    * Scale shape: one corpus-sized word count (map-side combined), then
    * a vocabulary-sized bucket aggregate; the vocab totals broadcast
    * onto the constant 256-row profile. */
  def qFeatureHash(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val wc = graft.CacheTracker.track(
      Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n_tok"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val tot = wc.agg(count(lit(1)).as("v"), sum("n_tok").cast("long").as("t"))
    wc.withColumn("bucket",
        expr("CAST(conv(substring(md5(word), 1, 4), 16, 10) AS BIGINT) % 256"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_types"), sum("n_tok").cast("long").as("n_tokens"))
      .crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_types"), col("n_tokens"),
        round(col("n_types") * lit(256).cast("double") / col("v"), 6).as("load_ratio"),
        round(col("n_tokens") * lit(256).cast("double") / col("t"), 6).as("mass_ratio"))
  }

  /** Unigram^0.75 negative-sampling table (the word2vec/SGNS noise
    * distribution from Mikolov et al. 2013): P_neg(w) ∝ count(w)^0.75,
    * which flattens the head and lifts the tail exactly enough that
    * frequent words stop dominating the negatives. Reports the top-30
    * words with their raw unigram probability next to the smoothed
    * sampling probability.
    *
    * Determinism: the normalizer Σ c^0.75 is a double sum over the
    * vocabulary, so it folds over the SORTED distinct (count, type
    * multiplicity) pairs — the [[qLmPerplexity]] contract — making the
    * sum order-identical in both engines; each output row then divides
    * once.
    *
    * Scale shape: corpus-sized word count, vocabulary-sized (count,
    * multiplicity) aggregate (tiny — counts collapse heavily), the
    * normalizer broadcast onto the top-30 TakeOrdered. */
  def qNegativeSampling(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val wc = graft.CacheTracker.track(
      Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("c"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val norm = wc.groupBy("c").agg(count(lit(1)).as("m"))
      .agg(sort_array(collect_list(struct(col("c"), col("m")))).as("cm"),
        sum(col("c") * col("m")).cast("long").as("n_tok"))
      .select(expr(
        "aggregate(cm, CAST(0 AS DOUBLE), (acc, x) -> acc + x.m * pow(x.c, 0.75D))")
        .as("z"), col("n_tok"))
    wc.crossJoin(broadcast(norm))
      .select(col("word"), col("c"),
        round(col("c").cast("double") / col("n_tok"), 6).as("p_unigram"),
        round(expr("pow(c, 0.75D)") / col("z"), 6).as("p_neg"))
      .orderBy(desc("c"), col("word"))
      .limit(30)
  }

  /** Document statistics + composite quality score. */
  def qTextStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("words", split(col("text"), " "))
      .withColumn("n_words", size(col("words")))
      .withColumn("n_distinct_words", size(array_distinct(col("words"))))
      .withColumn("sum_word_len",
        expr("aggregate(transform(words, w -> length(w)), 0, (acc, x) -> acc + x)"))
      .withColumn("n_stopwords",
        expr(s"size(filter(words, w -> w IN ${inList(stopEn)}))"))
      .select(
        col("doc_id"), col("n_words"), col("n_distinct_words"),
        (col("sum_word_len").cast("double") / col("n_words")).as("avg_word_len"),
        (col("n_stopwords").cast("double") / col("n_words")).as("stopword_ratio"),
        (col("n_distinct_words").cast("double") / col("n_words")).as("distinct_ratio"),
        ((col("n_distinct_words").cast("double") / col("n_words")) *
          (lit(1.0) - col("n_stopwords").cast("double") / col("n_words"))).as("quality_score"),
        (col("n_chars") === length(col("text"))).as("n_chars_consistent"))

  /** Stopword-profile language ID (n-gram-heuristic family): score each
    * language's marker-word hits, classify by a deterministic cascade. */
  def qTextLangid(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("words", split(col("text"), " "))
      .withColumn("score_en", expr(s"size(filter(words, w -> w IN ${inList(stopEn)}))"))
      .withColumn("score_es", expr(s"size(filter(words, w -> w IN ${inList(stopEs)}))"))
      .withColumn("score_de", expr(s"size(filter(words, w -> w IN ${inList(stopDe)}))"))
      .withColumn("score_fr", expr(s"size(filter(words, w -> w IN ${inList(stopFr)}))"))
      .withColumn("pred_lang",
        when(col("score_en") >= col("score_es") && col("score_en") >= col("score_de") &&
             col("score_en") >= col("score_fr") && col("score_en") > 0, "en")
          .when(col("score_es") >= col("score_de") && col("score_es") >= col("score_fr") &&
            col("score_es") > 0, "es")
          .when(col("score_de") >= col("score_fr") && col("score_de") > 0, "de")
          .when(col("score_fr") > 0, "fr")
          .otherwise("unknown"))
      .select(col("doc_id"), col("score_en"), col("score_es"), col("score_de"),
        col("score_fr"), col("pred_lang"), col("lang"),
        (col("pred_lang") === col("lang")).as("is_match"))

  /** Language-ID CONFUSION MATRIX — the audit that turns the per-doc
    * classifier ([[qTextLangid]]) into the number a pipeline owner
    * actually reads before trusting a language gate: per (declared,
    * predicted) cell, the count and its share of the declared language's
    * documents. Languages outside the classifier's label set (zh here)
    * land in the `unknown` column — exactly the blind spot a confusion
    * matrix exists to expose.
    *
    * Scale shape: the classifier is map-side HOF work; the matrix is one
    * (lang, pred_lang) aggregate (≤ |langs|² groups, map-side combined)
    * plus a broadcast join against the |langs|-row declared totals; the
    * classified relation is persisted so its two readers (cells +
    * totals) pay the stopword scoring once. */
  def qLangidConfusion(s: SparkSession, d: String): DataFrame = {
    val base = graft.CacheTracker.track(
      qTextLangid(s, d).select(col("lang"), col("pred_lang")).persist())
    val tot = base.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    base.groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
      .join(broadcast(tot), "lang")
      .select(col("lang"), col("pred_lang"), col("n"), col("n_lang"),
        round(col("n").cast("double") / col("n_lang"), 6).as("rate"))
  }

  /** Chance-corrected annotator agreement — multi-class Cohen's kappa
    * between the DECLARED language label and the stopword classifier's
    * prediction ([[qTextLangid]]): the scalar that tells a labeling
    * pipeline whether its two "annotators" agree beyond what their
    * marginal label distributions would produce by luck. Completes
    * q_langid_confusion (the full matrix) with the number teams actually
    * gate on. κ = (pₒ−pₑ)/(1−pₑ) with pₑ = Σ_k P(A=k)P(B=k); clearing
    * denominators gives κ = (agree·n − Σ row_k·col_k)/(n² − Σ row_k·col_k)
    * — exact BIGINT numerator and denominator, one double division.
    *
    * Scale shape: the classifier is map-side HOF work; marginals are two
    * ≤|langs|-row aggregates off the persisted classified relation; the
    * pₑ join runs on |langs| rows. κ lands ≈ 0.57 here — "moderate",
    * dragged down by the zh blind spot the confusion matrix exposes. */
  def qCohensKappa(s: SparkSession, d: String): DataFrame = {
    val base = graft.CacheTracker.track(
      qTextLangid(s, d).select(col("lang"), col("pred_lang")).persist())
    val rows = base.groupBy(col("lang").as("k")).agg(count(lit(1)).as("nr"))
    val cols = base.groupBy(col("pred_lang").as("k")).agg(count(lit(1)).as("nc"))
    val pe = rows.join(cols, "k").agg(coalesce(sum(expr("nr * nc")), lit(0L)).as("pe_num"))
    base.agg(count(lit(1)).as("n"),
        sum(expr("CAST(lang = pred_lang AS INT)")).as("agree"))
      .crossJoin(broadcast(pe))
      .select(col("n").cast("long").as("n_docs"),
        col("agree").cast("long").as("n_agree"),
        round(expr("CAST(agree AS DOUBLE) / nullif(n, 0)"), 6).as("po"),
        round(expr("CAST(pe_num AS DOUBLE) / nullif(CAST(n AS BIGINT) * n, 0)"), 6).as("pe"),
        round(expr("CAST(agree * n - pe_num AS DOUBLE) / nullif(CAST(CAST(n AS BIGINT) * n - pe_num AS DOUBLE), 0.0)"), 6)
          .as("kappa"))
  }

  /** Heavy-tail index of the GRAM-frequency distribution — the Hill
    * estimator over the top-k order statistics
    * (α̂ = k / Σᵢ ln(fᵢ/f₍ₖ₊₁₎)), the standard complement to
    * q_zipf_fit's global OLS slope: Hill reads ONLY the extreme tail,
    * so it detects when the head obeys Zipf but the tail doesn't (the
    * boilerplate-flood / template-corpus signature). k = 64.
    *
    * The TYPE unit is the word 3-gram, for the q_heaps_law reason:
    * this corpus' word vocabulary is ~31 types, so a word-unit top-65
    * selection is EMPTY and the estimator degenerates to the k=0 row
    * on every tier — the math would never run. The gram universe is
    * ~16k types at every tier, so the top-65 tail is real.
    *
    * Determinism: the top-(k+1) selection is ordered by (freq DESC,
    * gram ASC) — a TakeOrderedAndProject, never a global sort — and
    * the 64 ln terms sum as a pinned-order left fold over the
    * rank-sorted list (the q_jackknife pattern), so α̂ is bit-identical
    * in both engines.
    *
    * Scale shape: one gram-explode aggregate (map-side combined) +
    * top-65 selection; everything after runs on 65 rows. */
  def qHillTail(s: SparkSession, d: String): DataFrame = {
    val freqs = Tables.documents(s, d)
      .select(split(lower(col("text")), " ").as("words"))
      .select(explode(expr("shingles3(words)")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("f"))
      .orderBy(desc("f"), col("tok")).limit(65)
    val ranked = freqs.withColumn("rk",
      row_number().over(Window.orderBy(desc("f"), col("tok"))))
    val ref = ranked.filter(col("rk") === 65).select(col("f").as("f_ref"))
    ranked.filter(col("rk") <= 64)
      .crossJoin(broadcast(ref))
      .agg(count(lit(1)).as("k"), max("f_ref").as("f_ref"),
        sort_array(collect_list(struct(col("rk"),
          expr("ln(CAST(f AS DOUBLE) / f_ref)").as("t")))).as("xs"))
      .withColumn("sum_ln", expr("aggregate(xs, CAST(0.0 AS DOUBLE), (a, e) -> a + e.t)"))
      .select(col("k").cast("long").as("k"), col("f_ref").cast("long").as("f_kplus1"),
        round(col("sum_ln"), 6).as("sum_ln"),
        round(expr("k / nullif(sum_ln, 0.0)"), 6).as("hill_alpha"),
        round(expr("1.0 + k / nullif(sum_ln, 0.0)"), 6).as("zipf_exponent"))
  }

  /** Per-source TOKEN-DISTRIBUTION DRIFT — Jensen–Shannon divergence
    * between each source's hashed-unigram distribution and the whole
    * corpus (the mixture monitor a pretraining pipeline runs per ingest
    * tick: a source whose JS jumps has changed character — scraper
    * drift, spam influx, language shift — before any downstream metric
    * moves). Tokens hash into 1024 buckets (the q_dsir_resample trick —
    * no vocabulary materializes); both sides are Laplace-smoothed over
    * the full bucket grid so every KL term is finite.
    *
    * Determinism: each bucket's JS contribution is fixed-pointed
    * (floor(c·10¹²) as BIGINT) before the per-source sum, so the
    * aggregate is exact in any accumulation order; ln inputs are
    * identical doubles on both engines (the q_text_bm25 libm contract).
    *
    * Scale shape: one token explode feeds three counted aggregates
    * (per-(source, bucket), per-source, per-bucket — all map-side
    * combined); the scoring grid is |sources|×1024 rows of pure
    * arithmetic with the ≤1024-row corpus profile broadcast. Nothing
    * scales with corpus volume except the initial counts. */
  def qTokenJsDrift(s: SparkSession, d: String): DataFrame = {
    val toks = graft.CacheTracker.track(Tables.documents(s, d)
      .select(col("source"), explode(split(lower(col("text")), " ")).as("w"))
      .withColumn("b", expr("CAST(conv(substring(md5(w), 1, 6), 16, 10) AS BIGINT) % 1024"))
      .select("source", "b")
      .persist())
    val srcCnt = toks.groupBy("source", "b").agg(count(lit(1)).as("c_sb"))
    val srcTot = toks.groupBy("source").agg(count(lit(1)).as("t_s"))
    val corpCnt = toks.groupBy("b").agg(count(lit(1)).as("c_b"))
    val corpTot = toks.agg(count(lit(1)).as("t"))
    srcTot
      .crossJoin(s.range(1024).select(col("id").as("b")))
      .join(srcCnt, Seq("source", "b"), "left")
      .join(broadcast(corpCnt), Seq("b"), "left")
      .crossJoin(broadcast(corpTot))
      .withColumn("p", expr("(coalesce(c_sb, CAST(0 AS BIGINT)) + 1) / CAST(t_s + 1024 AS DOUBLE)"))
      .withColumn("q", expr("(coalesce(c_b, CAST(0 AS BIGINT)) + 1) / CAST(t + 1024 AS DOUBLE)"))
      .withColumn("m", expr("(p + q) / 2"))
      .withColumn("cfp", expr(
        "CAST(floor((0.5 * p * ln(p / m) + 0.5 * q * ln(q / m)) * 1e12) AS BIGINT)"))
      .groupBy("source", "t_s").agg(sum("cfp").as("js_fp"))
      .select(col("source"), col("t_s").as("n_tokens"), col("js_fp"),
        round(col("js_fp") / lit(1e12), 6).as("js"))
  }

  /** Heaps'-law VOCABULARY-GROWTH fit — V(N) ≈ K·N^β, the
    * sublinear-growth law every tokenizer-budget and dedup-planning
    * decision leans on ("how much NEW vocabulary will the next 10× of
    * data bring?"). The growth curve is sampled at ten doc-count
    * checkpoints WITHOUT any sequential scan: each word contributes one
    * row at its FIRST-OCCURRENCE doc (min doc_id — one aggregate), so
    * V(checkpoint) is a cumulative count over first-occurrence deciles,
    * and N(checkpoint) a cumulative token sum over doc deciles. The
    * log-log OLS reuses q_zipf_fit's sorted-fold contract (10 points,
    * fold order pinned by k — bit-identical across engines).
    *
    * Scale shape: one token explode, one min-per-word aggregate, two
    * 10-group aggregates, a 10-row window — no step scans the corpus
    * more than once, at any size. */
  def qHeapsLaw(s: SparkSession, d: String): DataFrame = {
    // max(…, 1) guards the empty corpus (identical for any real one)
    val n = math.max(Tables.parquetRowCount(s, d, "documents"), 1L)
    // the TYPE unit is the word 3-gram: this corpus' word vocabulary is
    // tiny and saturates in the first checkpoint (a flat, degenerate
    // curve), while its gram vocabulary keeps growing — the regime the
    // law describes (and the unit the dedup pipeline's shingles use)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .withColumn("grams", expr("shingles3(words)"))
    val vk = docs.select(col("doc_id"), explode(col("grams")).as("w"))
      .groupBy("w").agg(min("doc_id").as("fd"))
      .select(expr(s"CAST(fd * 10 div $n AS INT) + 1").as("k"))
      .groupBy("k").agg(count(lit(1)).as("new_types"))
    val nk = docs.select(expr(s"CAST(doc_id * 10 div $n AS INT) + 1").as("k"),
        size(col("grams")).cast("long").as("t"))
      .groupBy("k").agg(sum("t").as("new_tokens"))
    val grid = s.range(1, 11).select(col("id").cast("int").as("k"))
    // bounded 10-row global window (the q_zipf_fit constant-size pattern)
    val w10 = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pts = graft.CacheTracker.track(grid
      .join(vk, Seq("k"), "left").join(nk, Seq("k"), "left")
      .select(col("k"), coalesce(col("new_types"), lit(0L)).as("nt"),
        coalesce(col("new_tokens"), lit(0L)).as("nn"))
      .withColumn("vocab", sum("nt").over(w10))
      .withColumn("n_tokens", sum("nn").over(w10))
      .select(col("k"), col("n_tokens"), col("vocab"),
        expr("round(ln(CAST(n_tokens AS DOUBLE)), 6)").as("x"),
        expr("round(ln(CAST(vocab AS DOUBLE)), 6)").as("y"))
      .persist())
    val fit = pts
      .select(struct(col("k"), col("x"), col("y"),
        (col("x") * col("x")).as("xx"), (col("x") * col("y")).as("xy")).as("p"))
      .agg(count(lit(1)).as("nf"),
        expr("""aggregate(sort_array(collect_list(p)),
          | named_struct('sx', 0D, 'sy', 0D, 'sxx', 0D, 'sxy', 0D),
          | (a, q) -> named_struct('sx', a.sx + q.x, 'sy', a.sy + q.y,
          |   'sxx', a.sxx + q.xx, 'sxy', a.sxy + q.xy))"""
          .stripMargin.replace("\n", "")).as("sm"))
      .select( // + 0.0 collapses IEEE -0.0 to +0.0 (hash-stable when a fold
        // lands exactly on zero from below; DuckDB does the same)
        (round(expr("(nf * sm.sxy - sm.sx * sm.sy) / nullif(nf * sm.sxx - sm.sx * sm.sx, 0D)"), 6)
          + lit(0.0)).as("heaps_beta"),
        (round(expr(
          "(sm.sy - (nf * sm.sxy - sm.sx * sm.sy) / nullif(nf * sm.sxx - sm.sx * sm.sx, 0D) * sm.sx) / nullif(nf, 0)"), 6)
          + lit(0.0)).as("heaps_lnk"))
    pts.crossJoin(broadcast(fit))
      .select(col("k"), col("n_tokens"), col("vocab"),
        col("heaps_beta"), col("heaps_lnk"),
        expr("CAST(round(exp(heaps_lnk + heaps_beta * x), 0) AS BIGINT)").as("pred_vocab"))
  }

  /** Token counting: whitespace tokens, regex word/number/symbol tokens,
    * and a BPE-ish ≤4-char chunking; chars-per-token density. */
  def qTokenCount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).as("ws_tokens"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")).as("re_tokens"),
        size(expr("regexp_extract_all(text, '[a-z]{1,4}', 0)")).as("bpe_ish_tokens"),
        length(col("text")).as("n_chars_text"))
      .withColumn("chars_per_token",
        col("n_chars_text").cast("double") / col("ws_tokens"))

  /** Content fingerprinting: md5 of normalized text, a 8-hex-prefix
    * shard bucket, and a position-weighted exact checksum. */
  def qDocFingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("norm", regexp_replace(lower(col("text")), " +", " "))
      .withColumn("words", split(col("norm"), " "))
      .withColumn("fp_md5", md5(col("norm")))
      .select(
        col("doc_id"),
        col("fp_md5"),
        substring(col("fp_md5"), 1, 8).as("fp_bucket"),
        // zip_with keeps this O(n) — element_at-by-index would be O(n^2)
        expr("aggregate(zip_with(words, sequence(1, size(words)), (w, i) -> i * length(w)), 0, (acc, x) -> acc + x)")
          .as("weighted_checksum"))

  /** Rabin-Karp rolling-hash fingerprints via the codegen RollingHash
    * expression. Oracle-checked: the corpus is ASCII, so the DuckDB
    * oracle folds the identical (acc·257+b) mod 2^61-1 recurrence over
    * code points in HUGEINT; PipelineSpec additionally cross-checks the
    * codegen path against plain-Scala and BigInt references. */
  def qRollingFingerprint(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .selectExpr("doc_id", "rolling_hash(text) AS fp_rolling",
        "rolling_hash(text) % 1024 AS shard")
  }

  private val bgEn = Seq("th", "he", "in", "er", "an", "re", "on", "at", "en", "nd")
  private val bgEs = Seq("de", "la", "os", "el", "en", "es", "ar", "qu", "ue", "nt")
  private val bgDe = Seq("en", "er", "ch", "de", "ei", "ie", "in", "te", "un", "ge")
  private val bgFr = Seq("es", "le", "de", "en", "re", "nt", "on", "er", "ou", "ai")

  /** Character-bigram n-gram language ID: extract all bigrams, score the
    * hit-rate against per-language bigram profiles, classify by cascade.
    * The profile tables are literals so the whole operator stays
    * map-side. */
  def qLangidNgram(s: SparkSession, d: String): DataFrame = {
    // fused byte-scan count per profile (codepoint-exact for ASCII
    // profiles; the HOF twin is the parity reference in the spec)
    def score(name: String, prof: Seq[String]) =
      expr(s"bigram_hits(text, '${prof.mkString(",")}')").as(name)
    Tables.documents(s, d)
      .withColumn("n_bigrams", greatest(length(col("text")) - 1, lit(0)))
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        score("s_en", bgEn), score("s_es", bgEs), score("s_de", bgDe), score("s_fr", bgFr))
      .withColumn("pred_lang_ngram",
        when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de") &&
             col("s_en") >= col("s_fr") && col("s_en") > 0, "en")
          .when(col("s_es") >= col("s_de") && col("s_es") >= col("s_fr") && col("s_es") > 0, "es")
          .when(col("s_de") >= col("s_fr") && col("s_de") > 0, "de")
          .when(col("s_fr") > 0, "fr")
          .otherwise("unknown"))
      // nullif: an empty/1-char doc has 0 bigrams — ANSI Spark would
      // throw DIVIDE_BY_ZERO where the DuckDB oracle yields NULL;
      // identity on any real document (n_bigrams ≥ 1)
      .withColumn("hit_rate", expr("CAST(s_en AS DOUBLE) / nullif(n_bigrams, 0)"))
  }

  private val bm25Terms = Seq("hash", "merge", "vector")

  /** BM25 keyword search over `documents` (k1=1.2, b=0.75, the +1 idf
    * variant): per-term tf, corpus df, and average document length feed
    * the standard saturation formula; top-20 docs by rounded score.
    * Everything is two corpus passes (per-doc tf map-side, one tiny
    * global agg broadcast back) — the scale shape of scoring, not an
    * inverted index, which is the right Spark form when the query term
    * set is small. Oracle-checked: tf/df/dl are integers, avgdl is an
    * exact-decimal mean, and the float formula is written with the
    * identical operator order in both engines, with the score rounded
    * to 6 dp before ranking. */
  def qTextBm25(s: SparkSession, d: String): DataFrame =
    bm25Scored(s, d)
      .orderBy(desc("score"), col("doc_id"))
      .limit(20)
      .select((Seq(col("doc_id")) ++ bm25Terms.map(t => col(s"tf_$t")) :+ col("score")): _*)

  /** Every document with a positive BM25 score on the fixed query terms —
    * the scored relation behind q_text_bm25 and q_rrf_fusion's sparse arm. */
  private def bm25Scored(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val docs = Tables.documents(s, d)
      .withColumn("words", split(col("text"), " "))
      .select(col("doc_id"), col("words"), size(col("words")).as("dl"))
    val withTf = bm25Terms.foldLeft(docs)((df, t) =>
      df.withColumn(s"tf_$t", expr(s"size(filter(words, w -> w = '$t'))")))
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl").cast(DecimalType(18, 2))).cast("double") / count(lit(1))).as("avgdl"))
    val dfAgg = withTf.agg(
      bm25Terms.map(t => sum(when(col(s"tf_$t") > 0, 1).otherwise(0)).cast("long").as(s"df_$t")).head,
      bm25Terms.map(t => sum(when(col(s"tf_$t") > 0, 1).otherwise(0)).cast("long").as(s"df_$t")).tail: _*)
    val scoreExpr = bm25Terms.map(t =>
        s"ln((n_docs - df_$t + 0.5) / (df_$t + 0.5) + 1.0) * (tf_$t * 2.2) / " +
          s"(tf_$t + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))")
      .mkString("round(", " + ", ", 6)")
    withTf.crossJoin(broadcast(stats)).crossJoin(broadcast(dfAgg))
      .withColumn("score", expr(scoreExpr))
      .filter(col("score") > 0)
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of a sparse and a
    * dense retrieval arm — the standard hybrid-search combiner: the
    * fixed-term BM25 ranking and the cosine ranking against a query
    * embedding (vec_id 0) each contribute 1/(60+rank), so a document
    * strong in either arm surfaces without any score normalization
    * across incomparable scales. Documents missing from an arm's top-50
    * contribute 0 from that arm (the full-outer join keeps them).
    *
    * Determinism: ranks are integers assigned over rounded scores with
    * doc_id tie-break; each RRF term is one IEEE division of exact
    * integers, identical text in both engines. Scale shape: each arm is
    * TakeOrdered top-50 — the rank-assignment windows run on those
    * 50-row results (bounded by construction, never a global sort of
    * the corpus); the fusion join touches ≤100 rows. */
  def qRrfFusion(s: SparkSession, d: String): DataFrame = {
    val wb = Window.orderBy(desc("score"), col("doc_id"))
    val bmRank = bm25Scored(s, d)
      .orderBy(desc("score"), col("doc_id")).limit(50)
      .withColumn("r_sparse", row_number().over(wb))
      .select(col("doc_id"), col("r_sparse"))
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("ce"))
    val qv = e.filter(col("vec_id") === 0).select(col("ce").as("qe"))
    val wd = Window.orderBy(desc("cos_r"), col("doc_id"))
    val dnRank = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(qv))
      .withColumn("cos_r", expr("round(cosine_sim(qe, ce), 6)"))
      .select(col("vec_id").as("doc_id"), col("cos_r"))
      .orderBy(desc("cos_r"), col("doc_id")).limit(50)
      .withColumn("r_dense", row_number().over(wd))
      .select(col("doc_id"), col("r_dense"))
    bmRank.join(dnRank, Seq("doc_id"), "full_outer")
      .withColumn("rrf", expr(
        "round(coalesce(CAST(1 AS DOUBLE) / (60 + r_sparse), 0) + coalesce(CAST(1 AS DOUBLE) / (60 + r_dense), 0), 6)"))
      .orderBy(desc("rrf"), col("doc_id"))
      .limit(20)
      .select("doc_id", "r_sparse", "r_dense", "rrf")
  }

  /** PMI collocation mining — pointwise mutual information of adjacent
    * word pairs, the classic corpus-linguistics pass for multi-word
    * expressions ("New York", "machine learning") that tokenizers and
    * vocab builders want as single units. pmi = ln(c_pair·N / (c_w1·
    * c_w2)) over exact integer counts (N = total tokens), one ln per
    * surviving pair, rounded to 6 dp; pairs seen < 3 times are dropped
    * (PMI of rare pairs is noise — the standard frequency floor).
    *
    * Scale shape: two exploded aggregates over the corpus (bigram and
    * unigram counts — each one map-side-combined shuffle on the gram
    * key), then the pair relation joins the vocab relation on w1 and w2
    * (key-partitioned joins, no broadcast of an unbounded vocab); the
    * top-30 is TakeOrdered. Nothing holds the vocabulary on one node. */
  def qTokenPmi(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).withColumn("words", split(col("text"), " "))
    val uni = docs.select(explode(col("words")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("c_word"))
    val nTok = docs.agg(sum(size(col("words")).cast("long")).as("n_tokens"))
    val bi = docs.filter(size(col("words")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(words) - 2), i -> struct(words[i] AS w1, words[i + 1] AS w2))")).as("g"))
      .select(col("g.w1").as("w1"), col("g.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_pair"))
      .filter(col("c_pair") >= 3)
    bi.join(uni.select(col("word").as("w1"), col("c_word").as("c_w1")), "w1")
      .join(uni.select(col("word").as("w2"), col("c_word").as("c_w2")), "w2")
      .crossJoin(broadcast(nTok))
      .withColumn("pmi", expr(
        "round(ln(CAST(c_pair AS DOUBLE) * n_tokens / (CAST(c_w1 AS DOUBLE) * c_w2)), 6)"))
      .orderBy(desc("pmi"), col("w1"), col("w2"))
      .limit(30)
      .select("w1", "w2", "c_pair", "c_w1", "c_w2", "pmi")
  }

  /** TF-IDF top-3 terms per document: the vocabulary-wide shape BM25's
    * fixed-term scoring doesn't exercise — explode to (doc, word),
    * aggregate document frequency over the whole vocabulary (the one
    * real shuffle, on the word key), broadcast-join idf back, rank
    * within each document. Ties and floats are deterministic: integer
    * tf/df, idf = ln(N/df) of exact integers, score rounded to 6 dp,
    * (score desc, word) tie-break. */
  def qTfidfTopTerms(s: SparkSession, d: String): DataFrame = {
    val words = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    val tf = words.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(desc("tfidf"), col("word"))
    tf.join(dfreq, "word").crossJoin(broadcast(nDocs))
      .withColumn("tfidf", expr("round(tf * ln(n_docs / (1.0 * df)), 6)"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select("doc_id", "rank", "word", "tf", "df", "tfidf")
  }

  /** Benchmark decontamination — the n-gram overlap check every LLM
    * training pipeline runs before training (is an eval example's text
    * present in the corpus?). The "benchmark" here is DERIVED with a
    * live hit path: a 25-word span (words 4..28) of every doc_id%50==0
    * document plays the eval set, so its source doc is contaminated by
    * construction. Train docs are 5-gram shingled map-side (distinct
    * per doc); the eval gram set is tiny at any scale (benchmarks are
    * thousands of items, not billions), so the overlap test is a
    * BROADCAST semi-join — the only shuffle is the per-doc overlap
    * count. Output: contaminated docs with gram counts + overlap ratio. */
  def qDecontaminate(s: SparkSession, d: String): DataFrame = {
    // fused codegen 5-grams (byte-identical to the HOF slice/concat form)
    def grams5(arr: String) = s"shingles_n($arr, 5)"
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("words"))
    val evalGrams = docs.filter(col("doc_id") % 50 === 0)
      .select(explode(expr(grams5("slice(words, 4, 25)"))).as("gram")).distinct()
    // the FULL corpus is scanned (that is what decontamination means) —
    // each eval span's source doc is flagged by construction
    val train = docs
      .select(col("doc_id"), array_distinct(expr(grams5("words"))).as("grams"))
      .select(col("doc_id"), size(col("grams")).as("n_grams"), explode(col("grams")).as("gram"))
    train.join(broadcast(evalGrams), "gram")
      .groupBy("doc_id", "n_grams")
      .agg(count(lit(1)).as("n_overlap")) // grams are distinct per doc
      .select(col("doc_id"), col("n_grams"), col("n_overlap"),
        (col("n_overlap").cast("double") / col("n_grams")).as("contamination"))
  }

  /** Bloom-gated decontamination — identical OUTPUT to [[qDecontaminate]]
    * (the exact broadcast confirm join still runs), but the corpus-side
    * gram stream is first probed against a broadcast Bloom filter built
    * over the eval grams. Why at 100 TB: a Bloom at 1% FP costs ~10 bits
    * per eval gram where the exact string set costs ~50+ bytes, so a
    * million-item eval suite broadcasts as ~1.2 MB of bits instead of
    * tens of MB of strings, and the probe is a map-side bit test with no
    * join machinery — only true hits plus the ≤1% false positives ever
    * reach the confirm join, which removes the FPs, keeping the result
    * EXACT. This is the same row-level runtime-filter shape Spark's own
    * `InjectRuntimeFilter` (bloom) applies to large shuffle joins; here
    * it is explicit and sketch-gated like `q_cms_heavy_hitters`. The
    * spec proves the gated pipeline is byte-identical to the ungated one
    * even with a deliberately coarse (high-FP) filter. */
  def qDecontaminateBloom(s: SparkSession, d: String): DataFrame = {
    def grams5(arr: String) = s"shingles_n($arr, 5)"
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("words"))
    // persisted: the eval gram set feeds three consumers (count, the
    // Bloom build, and the confirm join) — without the cache each one
    // re-derives the scan+shingle+distinct lineage
    val evalGrams = graft.CacheTracker.track(
      docs.filter(col("doc_id") % 50 === 0)
        .select(explode(expr(grams5("slice(words, 4, 25)"))).as("gram")).distinct()
        .persist())
    // eval-sized action: benchmarks are thousands of items at any corpus scale
    val nEvalRaw = evalGrams.count()
    val train0 = docs
      .select(col("doc_id"), array_distinct(expr(grams5("words"))).as("grams"))
      .select(col("doc_id"), size(col("grams")).as("n_grams"), explode(col("grams")).as("gram"))
    // an EMPTY eval set means nothing can be contaminated — and a Bloom
    // filter built over zero rows has no bit array to probe, so gate the
    // stream shut instead of probing it
    val train = if (nEvalRaw == 0) train0.filter(lit(false)) else {
      // broadcast released by the harness after materialization, like the cache
      val bloomB = graft.CacheTracker.trackBroadcast(
        s.sparkContext.broadcast(evalGrams.stat.bloomFilter("gram", nEvalRaw, 0.01)))
      val mightContain = udf((g: String) => bloomB.value.mightContainString(g))
      train0.filter(mightContain(col("gram"))) // map-side gate: ~1% of corpus grams survive
    }
    train.join(broadcast(evalGrams), "gram") // exact confirm — removes Bloom FPs
      .groupBy("doc_id", "n_grams")
      .agg(count(lit(1)).as("n_overlap"))
      .select(col("doc_id"), col("n_grams"), col("n_overlap"),
        (col("n_overlap").cast("double") / col("n_grams")).as("contamination"))
  }

  /** Char-trigram LM cross-entropy — the CCNet-style perplexity quality
    * gate (Wenzek et al. 2020 score docs with a KenLM model and drop the
    * high-perplexity tail; here the LM is a char-trigram MLE trained on
    * the corpus itself). xent(doc) = mean over its trigrams of
    * ln(total/c) — no smoothing/OOV term is needed because every scored
    * gram came out of the same corpus the counts did, so c >= 1 by
    * construction. Scale shape: the trigram table is bounded by
    * |alphabet|^3 regardless of corpus size, so the model BROADCASTS and
    * training is one map-side-combined agg; scoring is explode +
    * broadcast join + doc-keyed aggregation — a single corpus-sized
    * shuffle. Float determinism follows the repo's fold-exact
    * discipline: a raw sum(ln …) would accumulate in shuffle order, so
    * the log-sum is folded over the per-doc (count → multiplicity)
    * relation in ascending-count order — few distinct counts per doc,
    * identical left-fold op sequence in both engines, bit-exact before
    * the 6 dp round. */
  def qLmPerplexity(s: SparkSession, d: String): DataFrame = {
    // the gram relation feeds BOTH the model-count aggregate (via the
    // broadcast-build job) and the scoring probe — persisted so the
    // explode-of-300-substrings scan runs once, not once per consumer
    // (the broadcast job fills the cache before the probe reads it).
    // r18 A/B note (VERDICT r17 item 4): DROPPING this persist was
    // measured and REVERTED — the explode is an interpreted
    // ArrayTransform (never codegens), so re-running it per consumer
    // cost more than the cache fill saved (solo sf0.1: 4.28 s with the
    // persist → 5.19 s without).
    // r18 (guide §4): explode the POSITION sequence and take the
    // substring as a projected column — the old form built a
    // 300-element string array per doc through an interpreted
    // ArrayTransform lambda; this one generates ints and runs
    // substring inside whole-stage codegen. Same rows, same values.
    val grams = graft.CacheTracker.track(Tables.documents(s, d)
      .filter(length(col("text")) >= 3)
      .select(col("doc_id"), col("text"),
        explode(expr("sequence(1, length(text) - 2)")).as("pos"))
      .select(col("doc_id"), expr("substring(text, pos, 3)").as("g"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // r18 (guide §5): the MODEL persists too — bounded by |alphabet|^3
    // at any corpus scale, and without its own cache the `total`
    // broadcast re-aggregated the whole cached gram stream a second
    // time (a corpus-sized hash-agg per run) just to re-sum the counts
    // already computed for the score broadcast.
    val counts = graft.CacheTracker.track(
      grams.groupBy("g").agg(count(lit(1)).as("c")).persist())
    val total = counts.agg(sum("c").cast("long").as("n_total"))
    grams.join(broadcast(counts), "g")
      .groupBy("doc_id", "c").agg(count(lit(1)).as("m"))
      .crossJoin(broadcast(total))
      .groupBy("doc_id", "n_total")
      .agg(sum(col("m")).cast("long").as("n_grams"),
        sort_array(collect_list(struct(col("c"), col("m")))).as("cm"))
      .select(col("doc_id"), col("n_grams"),
        round(expr("aggregate(cm, CAST(0 AS DOUBLE), (acc, x) -> acc + x.m * ln(CAST(n_total AS DOUBLE) / x.c))")
          / col("n_grams"), 6).as("xent"))
      .withColumn("ppl_bucket", floor(col("xent")).cast("long"))
      .withColumn("quality_pass", col("xent") < lit(8.0))
  }

  /** The at-rest PER-DOC LM-SCORE index (doc_id, n_grams, xent): a
    * production pipeline scores the corpus with its quality LM once and
    * every curriculum/mixing/filtering consumer reads the scores from
    * columnar storage instead of re-running the explode→train→score
    * pipeline (the same contract as the dedup signature index).
    * [[qLmPerplexity]] itself stays the definitional from-scratch
    * builder — its oracle proves the computation; consumers keep
    * from-scratch oracles, so their hash equality proves the index
    * read path loses nothing. */
  private def lmXentDir(s: SparkSession, d: String): java.io.File =
    graft.AtRest.dir(s, d, "lm_xent", "documents",
      params = "char-trigram;mle;asc-count-fold;round6")
  private[graft] def lmXentAtRest(s: SparkSession, d: String): DataFrame = {
    val dir = lmXentDir(s, d)
    graft.AtRest.buildOnce(dir) {
      qLmPerplexity(s, d).select(col("doc_id"), col("n_grams"), col("xent"))
        .write.mode("overwrite").parquet(dir.toString)
    }
    Tables.readParquet(s, dir.toString)
  }

  /** Gopher-style document quality rules (public heuristics from the
    * Gopher/MassiveText filtering literature): mean word length bounds,
    * top-2-gram repetition ratio, document size bound, and the overall
    * pass flag. The word-level stats are map-side HOFs; the repetition
    * ratio needs the per-doc 2-gram mode — one explode + two
    * aggregations, both keyed by doc_id, so the data shuffles once and
    * stays partitioned for the second agg. */
  def qGopherQuality(s: SparkSession, d: String): DataFrame = {
    val w = Tables.documents(s, d)
      .withColumn("words", split(col("text"), " "))
      .withColumn("n_words", size(col("words")))
      .withColumn("mean_word_len",
        expr("aggregate(transform(words, x -> length(x)), 0, (a, x) -> a + x)")
          .cast("double") / col("n_words"))
    val rep2 = w
      .select(col("doc_id"), explode(expr("shingles_n(words, 2)")).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("max2"), sum("c").as("tot2"))
    w.join(rep2, "doc_id")
      .select(col("doc_id"), col("n_words"), col("mean_word_len"),
        (col("max2").cast("double") / col("tot2")).as("top_2gram_ratio"),
        (col("mean_word_len") >= 3 && col("mean_word_len") <= 10).as("pass_word_len"),
        (col("max2").cast("double") / col("tot2") <= 0.2).as("pass_repetition"),
        (col("n_words") >= 20).as("pass_size"))
      .withColumn("pass_all",
        col("pass_word_len") && col("pass_repetition") && col("pass_size"))
  }

  /** Sparse bag-of-words cosine over an INVERTED INDEX — the sparse
    * counterpart of the dense-embedding cosine (q_sim_topk): documents
    * are integer term-frequency vectors, the posting-list join on the
    * term key computes Σ tf_a·tf_b for co-occurring terms only, and the
    * top-20 most similar pairs surface by normalized cosine. Terms in
    * more than 50 documents are dropped first (the posting-list cap —
    * the same common-term guard as winnowing; without it one stopword's
    * postings join quadratically). Cosine is taken in the capped term
    * space — the guard is part of the similarity definition here, as in
    * any stop-worded retrieval system.
    *
    * Everything is INTEGER until the final row: tf products and squared
    * norms sum exactly in any order; one sqrt-divide per output pair.
    * Scale shape: tf is one (doc, term) aggregate; the pair join is
    * bounded by df ≤ 50 postings per term; top-20 is TakeOrdered (no
    * global sort materialization). */
  def qSparseCosine(s: SparkSession, d: String): DataFrame = {
    val tf = graft.CacheTracker.track(
      Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
        .persist())
    val rare = tf.groupBy("word").agg(count(lit(1)).as("df")).filter(col("df") <= 50)
    val posts = tf.join(rare.select("word"), "word")
    val norms = posts.groupBy("doc_id").agg(sum(expr("tf * tf")).as("nrm"))
    val num = posts.as("a").join(posts.as("b"),
        col("a.word") === col("b.word") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(sum(expr("a.tf * b.tf")).as("dot"))
    num.join(norms.select(col("doc_id").as("a_id"), col("nrm").as("na")), "a_id")
      .join(norms.select(col("doc_id").as("b_id"), col("nrm").as("nb")), "b_id")
      .select(col("a_id"), col("b_id"), col("dot"),
        expr("round(CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))), 6)").as("cos_bow"))
      .orderBy(desc("cos_bow"), col("a_id"), col("b_id"))
      .limit(20)
  }

  /** Chi-square contingency audit over the lang × source grid — the
    * "is my metadata independent?" test a corpus gets before stratified
    * decisions (a lang confined to one source is a sampling hazard the
    * marginals alone cannot show). Per cell: observed count, expected
    * count under independence E = R·C/N, and the χ² contribution
    * (O−E)²/E. Determinism: the contribution is computed from the
    * EXACT integer identity (O·N − R·C)²/(N·R·C) — counts are integers,
    * the numerator is one exact BIGINT square, and each cell's double
    * division happens once per output row (no cross-row float
    * accumulation anywhere; a grand total, if wanted, sums the rounded
    * DECIMAL contributions exactly — the spec does).
    *
    * Scale shape: one groupBy for cells, two tiny marginal aggregates
    * broadcast back onto the cell relation — the corpus is scanned
    * once; the output is |langs|·|sources| rows of audit metadata. */
  def qChi2Contingency(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("lang"), col("source"))
    val cells = docs.groupBy("lang", "source").agg(count(lit(1)).as("n_obs"))
    val rowTot = docs.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    val colTot = docs.groupBy("source").agg(count(lit(1)).as("n_src"))
    val tot = docs.agg(count(lit(1)).as("n_total"))
    cells.join(broadcast(rowTot), "lang").join(broadcast(colTot), "source")
      .crossJoin(broadcast(tot))
      .select(col("lang"), col("source"), col("n_obs"), col("n_lang"), col("n_src"),
        expr("round(CAST(n_lang * n_src AS DOUBLE) / n_total, 6)").as("expected"),
        expr("round(CAST(n_obs * n_total - n_lang * n_src AS DOUBLE) * CAST(n_obs * n_total - n_lang * n_src AS DOUBLE) / (CAST(n_total AS DOUBLE) * n_lang * n_src), 6)").as("contrib"))
  }

  /** FastText-style quality classifier INFERENCE (Joulin et al. 2016 —
    * the linear bag-of-n-grams model behind the CCNet / LLaMA "looks
    * like a wiki reference" filter): features are unigrams + adjacent
    * bigrams hashed into 1024 buckets (the hashing trick), bucket
    * weights come from a deterministic integer formula standing in for
    * trained parameters (a real model would broadcast the same
    * 1024-long array — the plumbing is identical), scores mean-pool
    * over features, and a sigmoid gates the document.
    *
    * Hash-stability: the per-document accumulator is an INTEGER weight
    * sum (order-insensitive under any fold order), and the double
    * math (mean, sigmoid) happens once per document on that exact sum
    * with the same expression text in both engines.
    *
    * Scale shape: pure map-side — tokenize, hash, fold per document
    * with HOFs; no explode, no join, no shuffle (the same shuffle-free
    * contract PlanShapeSpec pins for the PII scrub). 100 TB cost = one
    * scan; model-weight refresh = one broadcast. */
  /** (doc_id, n_chars, n_feat, w_sum) — the classifier's hashed-feature
    * integer accumulator, the ONE definition shared by inference
    * ([[qQualityClassifier]]) and the calibration audit
    * ([[qCalibration]]): the audit is only meaningful if it bins the
    * EXACT score the deployed classifier computes, so the feature
    * concat and weight formula must not drift between the two. */
  private def classifierWsum(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .withColumn("words", split(col("text"), " "))
      .withColumn("fts", expr("concat(words, shingles_n(words, 2))"))
      .select(col("doc_id"), col("n_chars"), size(col("fts")).as("n_feat"),
        expr("aggregate(fts, CAST(0 AS BIGINT), (acc, f) -> acc + (((CAST(conv(substring(md5(f), 1, 7), 16, 10) AS BIGINT) % 1024) * 2654435761) % 1000003 - 500001))").as("w_sum"))
  }

  def qQualityClassifier(s: SparkSession, d: String): DataFrame =
    classifierWsum(s, d)
      .select(col("doc_id"), col("n_feat"), col("w_sum"))
      .withColumn("score", expr("round(CAST(w_sum AS DOUBLE) / (1000003.0 * n_feat), 6)"))
      .withColumn("prob", expr("round(1.0 / (1.0 + exp(-(CAST(w_sum AS DOUBLE) / (1000003.0 * n_feat)))), 6)"))
      .withColumn("pass_quality", col("w_sum") > 0)

  /** Calibration-bin (reliability diagram) audit of the
    * [[qQualityClassifier]] score against a reference label — the
    * standard check before a classifier score gates a corpus: bucket
    * documents by score, compare each bucket's observed positive rate
    * to its mean score. A well-calibrated filter has pos_rate tracking
    * mean_score_ppm across bins; divergence means the threshold is
    * lying about precision. Label here is the length proxy
    * n_chars ≥ 300 (the corpus median — balanced by construction).
    *
    * All binning is exact integer FLOOR division (scores can be
    * negative, so Spark's truncating `div` is corrected with the
    * positive-remainder subtraction — see [[EventWindows]]'s fdiv
    * note); the only double is the final per-bin rate.
    *
    * Scale shape: identical to the classifier itself — one map-side
    * scan computes w_sum/bin per document, then a map-side-combined
    * aggregate over ≤ 21 bin keys. */
  def qCalibration(s: SparkSession, d: String): DataFrame = {
    def fdiv(x: String, dd: String) =
      s"(($x) - (((($x) % ($dd)) + ($dd)) % ($dd))) div ($dd)"
    classifierWsum(s, d)
      .withColumn("score_ppm",
        expr(fdiv("w_sum * 1000000", "1000003 * CAST(n_feat AS BIGINT)")))
      .withColumn("bin_id",
        expr(fdiv("w_sum * 20", "1000003 * CAST(n_feat AS BIGINT)")))
      .groupBy("bin_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_chars") >= 300, 1L).otherwise(0L)).as("n_pos"),
        sum("score_ppm").as("sum_score_ppm"))
      .withColumn("mean_score_ppm", expr(fdiv("sum_score_ppm", "n_docs")))
      .withColumn("pos_rate", expr("round(CAST(n_pos AS DOUBLE) / n_docs, 6)"))
  }

  /** Mutual information between the lang and source columns — the
    * information-theoretic association audit next to the chi² test
    * ([[qChi2Contingency]]): MI in nats says how many bits-worth of a
    * document's source its language reveals, and NMI = MI/√(H_l·H_s)
    * normalizes it to [0,1] for cross-dataset comparison. A high value
    * means the corpus mix is confounded (e.g. one crawl is all-German)
    * — exactly what a training-mix planner needs to know before
    * stratifying on either column alone.
    *
    * Float discipline: every probability comes from exact BIGINT
    * counts; the entropy/MI sums fold over SORTED cell lists (by lang,
    * source) so the double additions happen in the same order in both
    * engines, then round to 6 dp.
    *
    * Scale shape: three map-side-combined aggregates over one scan
    * (cells ≤ |langs|·|sources|, marginals smaller); the folds run on
    * those tiny collected lists, the joins broadcast. */
  def qMutualInfo(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val cells = docs.groupBy("lang", "source").agg(count(lit(1)).as("n_ls"))
    val rl = docs.groupBy("lang").agg(count(lit(1)).as("n_l"))
    val rs = docs.groupBy("source").agg(count(lit(1)).as("n_s"))
    val mi = cells.join(broadcast(rl), "lang").join(broadcast(rs), "source")
      .groupBy()
      .agg(sum("n_ls").as("n_docs"),
        sort_array(collect_list(struct(col("lang"), col("source"),
          col("n_ls"), col("n_l"), col("n_s")))).as("cs"))
    val hl = rl.groupBy()
      .agg(sort_array(collect_list(struct(col("lang"), col("n_l")))).as("ls"))
    val hs = rs.groupBy()
      .agg(sort_array(collect_list(struct(col("source"), col("n_s")))).as("ss"))
    mi.crossJoin(broadcast(hl)).crossJoin(broadcast(hs))
      .withColumn("mi_raw", expr(
        """aggregate(cs, CAST(0 AS DOUBLE), (acc, x) ->
          |  acc + (CAST(x.n_ls AS DOUBLE) / n_docs)
          |      * ln(CAST(x.n_ls AS DOUBLE) * n_docs / (CAST(x.n_l AS DOUBLE) * x.n_s)))""".stripMargin))
      .withColumn("hl_raw", expr(
        """aggregate(ls, CAST(0 AS DOUBLE), (acc, x) ->
          |  acc - (CAST(x.n_l AS DOUBLE) / n_docs) * ln(CAST(x.n_l AS DOUBLE) / n_docs))""".stripMargin))
      .withColumn("hs_raw", expr(
        """aggregate(ss, CAST(0 AS DOUBLE), (acc, x) ->
          |  acc - (CAST(x.n_s AS DOUBLE) / n_docs) * ln(CAST(x.n_s AS DOUBLE) / n_docs))""".stripMargin))
      .select(col("n_docs"),
        expr("round(mi_raw, 6)").as("mi_nats"),
        expr("round(hl_raw, 6)").as("h_lang"),
        expr("round(hs_raw, 6)").as("h_source"),
        expr("CASE WHEN hl_raw > 0 AND hs_raw > 0 THEN round(mi_raw / sqrt(hl_raw * hs_raw), 6) END")
          .as("nmi"))
  }

  /** Count-Min sketch heavy hitters (Cormode & Muthukrishnan '05) — the
    * frequency-sketch family alongside the HLL distinct-count sketch
    * (q_approx_distinct): a d=4 × w=512 counter grid where every word
    * occurrence increments one md5-derived cell per row, and a term's
    * estimate is the MIN over its d cells. Reported for the exact top-20
    * terms next to their true counts, with the CMS one-sided-error
    * guarantee (estimate ≥ truth, always) as a checked column.
    *
    * 100 TB shape: the sketch IS the only full-corpus aggregate. Pass 1
    * builds the ≤ d·w = 2048-cell grid with map-side partial aggregation
    * (each task emits ≤ 2048 partials, shuffle O(partitions · 2048), not
    * O(corpus)) and collects it to a dense broadcast-literal table — the
    * same train→literal pattern as the IVF centroids. Pass 2 filters
    * OCCURRENCES map-side on the sketch estimate (`cms_est ≥ ⌈N/w⌉`, a
    * support threshold the sketch can answer without any term
    * enumeration); only surviving occurrences — the candidate heavy
    * hitters' — reach the exact-count groupBy, so there is NO unfiltered
    * full-vocabulary aggregate anywhere in the plan (PlanShapeSpec
    * asserts the Filter sits below the term aggregate). CMS never
    * underestimates, so every term with true count ≥ threshold is
    * guaranteed a candidate — the reported top-20 is exact. At 100 TB,
    * widen w so N/w stays at the target support; the plan shape is
    * unchanged. Deterministic md5 cell hashes make the estimates
    * hash-stable against the oracle — no probabilistic flake. */
  def qCmsHeavyHitters(s: SparkSession, d: String): DataFrame = {
    // The 4 cell indexes of a term come from DISJOINT 7-hex-digit
    // substrings of ONE md5 digest (chars 1-7, 8-14, 15-21, 22-28):
    // one digest per occurrence instead of four (the digest dominated
    // the row cost — benched 3.8 s → 4x less hashing on both passes).
    // md5's avalanche makes disjoint substrings behave as the d
    // pairwise-independent row hashes the CMS bound asks for.
    //
    // r18 (guide §4): both the pass-1 cell derivation and the pass-2
    // probe used interpreted HOFs (transform + array_min over a 4-slot
    // lambda) evaluated once per word OCCURRENCE — the corpus-scale hot
    // path. Pass 1 now explodes the constant lane sequence and derives
    // the cell as a scalar projection; the probe takes least() of the
    // four unrolled cell lookups. Same (j, cell) pairs, same min — all
    // inside whole-stage codegen, no per-row array allocation.
    val words = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("term"))
      .withColumn("h", md5(col("term")))
    // pass 1: build + collect the sketch (≤ 2048 rows) → dense literal
    val cells = words
      .select(explode(expr("sequence(0, 3)")).as("j"), col("h"))
      .select(col("j"), expr(
        "cast(conv(substring(h, j * 7 + 1, 7), 16, 10) as bigint) % 512").as("cell"))
      .groupBy("j", "cell").agg(count(lit(1)).as("cnt"))
      .collect()
    val table = Array.fill(4 * 512)(0L)
    cells.foreach(r => table(r.getInt(0) * 512 + r.getLong(1).toInt) = r.getLong(2))
    val nTotal = cells.iterator.filter(_.getInt(0) == 0).map(_.getLong(2)).sum
    val threshold = math.max(nTotal / 512, 1L)
    val tableLit = typedLit(table.toSeq)
    def estOf(h: Column): Column = least((0 to 3).map { j =>
      element_at(tableLit, (lit(j.toLong) * 512 +
        conv(h.substr(lit(j * 7 + 1), lit(7)), 16, 10).cast("long") % 512)
        .cast("int") + 1)
    }: _*)
    // pass 2: map-side sketch gate, THEN the exact count over survivors
    words.filter(estOf(col("h")) >= lit(threshold))
      .groupBy("term").agg(count(lit(1)).as("exact_cnt"))
      .withColumn("cms_est", estOf(md5(col("term"))))
      .withColumn("overcount", col("cms_est") - col("exact_cnt"))
      .withColumn("never_under", col("cms_est") >= col("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("term")).limit(20)
      .select("term", "exact_cnt", "cms_est", "overcount", "never_under")
  }

  /** PII redaction — the scrubbing stage of a training-data pipeline:
    * emails, NANP-style phone numbers, and dotted-quad IPs are replaced
    * with typed placeholder tokens. Pure per-row regex, so the operator
    * is a projection at any scale (map-side, codegen, no shuffle). The
    * corpus text has no natural PII, so a live hit path is derived by
    * appending a synthetic contact line to every 9th document — the
    * identical injection on the oracle side, as with the dedup corpus.
    * Patterns stay inside the regex subset Java and RE2 interpret
    * identically (no alternation, no backreferences). */
  def qPiiScrub(s: SparkSession, d: String): DataFrame = {
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phoneRe = "\\d{3}-\\d{3}-\\d{4}"
    val ipRe = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"
    Tables.documents(s, d).select(col("doc_id"), col("text"))
      .withColumn("text", when(col("doc_id") % 9 === 0,
        concat(col("text"), lit(" reach user"), col("doc_id").cast("string"),
          lit("@example.com or 555-123-4567 at 10.0.42.7")))
        .otherwise(col("text")))
      .withColumn("n_redactions",
        regexp_count(col("text"), lit(emailRe)) +
        regexp_count(col("text"), lit(phoneRe)) +
        regexp_count(col("text"), lit(ipRe)))
      .withColumn("clean_text",
        regexp_replace(regexp_replace(regexp_replace(col("text"),
          lit(emailRe), lit("<EMAIL>")),
          lit(phoneRe), lit("<PHONE>")),
          lit(ipRe), lit("<IP>")))
      .select("doc_id", "n_redactions", "clean_text")
  }

  /** Overlapping fixed-window document chunking — the RAG/embedding
    * preprocessing stage: 64-word windows at stride 48 (16-word
    * overlap), one output row per chunk. Chunk count is
    * 1 + ⌈max(n−64, 0)/48⌉, so every word is covered and a final short
    * window appears only when needed. Pure projection + explode:
    * map-side at any scale, no shuffle; the 1.33× row amplification is
    * the operator's contract, not a plan artifact. */
  def qDocChunks(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("words", split(col("text"), " "))
      .withColumn("n_words", size(col("words")))
      .withColumn("n_chunks",
        lit(1) + expr("(greatest(n_words - 64, 0) + 47) div 48"))
      .select(col("doc_id"), col("n_words"),
        posexplode(expr(
          "transform(sequence(0, n_chunks - 1), i -> concat_ws(' ', slice(words, i * 48 + 1, 64)))"))
          .as(Seq("chunk_id", "chunk_text")))
      .withColumn("chunk_tokens", size(split(col("chunk_text"), " ")))

  /** Word-distribution Shannon entropy per document — the gibberish /
    * repetition signal (low entropy = a few words dominate; high =
    * diverse vocabulary) used alongside the Gopher rules in quality
    * filtering. H = ln(N) − (Σ c·ln c)/N over per-doc word counts.
    *
    * Entirely MAP-SIDE: the per-doc histogram is a HOF over the words
    * array (docs are bounded; no explode, no shuffle at any corpus
    * scale). Float determinism: the Σ c·ln c fold runs over the SORTED
    * distinct-word array, so both engines execute the identical
    * left-fold of IEEE ops (same add order), then round to 6 dp. */
  def qTextEntropy(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("words", split(col("text"), " "))
      .withColumn("n_words", size(col("words")))
      .withColumn("uniq", sort_array(array_distinct(col("words"))))
      .withColumn("n_distinct", size(col("uniq")))
      .withColumn("clnc", expr(
        "aggregate(transform(uniq, u -> cast(size(filter(words, w -> w = u)) as double) * ln(size(filter(words, w -> w = u)))), cast(0.0 as double), (a, x) -> a + x)"))
      .withColumn("entropy", round(log(col("n_words")) - col("clnc") / col("n_words"), 6))
      .select(col("doc_id"), col("n_words"), col("n_distinct"), col("entropy"),
        when(col("n_distinct") > 1, round(col("entropy") / log(col("n_distinct")), 6))
          .otherwise(0.0).as("norm_entropy"))

  /** Positional phrase search — the inverted-index phrase query: find
    * every document containing an exact multi-word phrase by
    * intersecting positional posting lists (word → token positions
    * within doc) with the phrase-offset shift, the way a search engine
    * answers `"table scan"` without re-scanning raw text.
    *
    * Scale shape: the posting explode is filtered MAP-SIDE to the
    * phrase vocabulary (a handful of words), so the only shuffle — one
    * doc-keyed groupBy — carries just the occurrences of those words,
    * ∝ phrase-term frequency, not corpus size. The per-phrase
    * adjacency intersection is then a pure HOF over the per-word
    * position arrays (`filter(p_w0, x -> array_contains(p_w1, x+1) …)`),
    * no self-join of the postings relation (the naive `pos = pos + 1`
    * bigram self-join shuffles the postings twice and re-joins per
    * phrase term). Generalizes to k-word phrases by adding one
    * containment term per offset; both phrases here share the single
    * group pass. Positions are 1-based (DuckDB `generate_subscripts`
    * convention). */
  def qPhraseSearch(s: SparkSession, d: String): DataFrame = {
    val phrases = Seq("table scan", "hash join").map(p => (p, p.split(" ").toSeq))
    val phraseWords = phrases.flatMap(_._2).distinct
    val posts = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .filter(col("word").isin(phraseWords: _*))
    val aggs = phraseWords.map(w =>
      sort_array(collect_list(when(col("word") === w, col("pos") + 1))).as(s"p_$w"))
    val grouped = posts.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    phrases.map { case (name, ws) =>
      val cond = ws.zipWithIndex.tail
        .map { case (w, i) => s"array_contains(p_$w, x + $i)" }.mkString(" AND ")
      grouped
        .select(lit(name).as("phrase"), col("doc_id"),
          expr(s"filter(p_${ws.head}, x -> $cond)").as("m"))
        .filter(size(col("m")) > 0)
        .select(col("phrase"), col("doc_id"),
          size(col("m")).cast("long").as("n_occ"),
          expr("m[0]").cast("long").as("first_pos"))
    }.reduce(_ unionByName _)
  }

  /** Vocab sizes up to this many word types are broadcast for the encode
    * join (a few tens of MB of strings+ints); beyond it the id join falls
    * back to a shuffled hash join on `word`, which scales without bound. */
  private[graft] val VocabBroadcastMaxTypes = 2000000L

  /** Corpus-frequency vocabulary encoding — the tokenize→ids step that
    * feeds training: build the vocabulary ranked by corpus frequency
    * (rank 1 = most frequent; ties break lexically), then encode every
    * document as its space-joined token-id sequence in position order.
    *
    * Scale shape: the vocabulary relation is |word types|, not |corpus|
    * (Heaps' law: sublinear in corpus size), but a global rank window
    * would still drag every word type through ONE task. Instead the rank
    * is a range-partitioned sort: `repartitionByRange` on the strict
    * total order (freq desc, word) makes each partition a contiguous run
    * of the global order, a within-partition sort orders the run, and
    * `zipWithIndex` adds the per-partition offsets — every stage stays
    * parallel, and the ids are identical to `row_number()` because the
    * key order is strict (word is unique). The encode join broadcasts
    * the vocab while it fits ([[VocabBroadcastMaxTypes]]; plan-asserted
    * at test scale) and degrades to a shuffled hash join above that.
    * Per-doc reassembly is one doc-keyed shuffle with a map-side
    * sort_array — never a global sort. */
  def qVocabEncode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val words = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
    val freqs = graft.CacheTracker.track(
      words.groupBy("word").agg(count(lit(1)).as("freq")).persist())
    val nTypes = freqs.count() // vocab-sized action; also decides the join shape
    // token_id is INTEGER (the oracle's type too); fail loudly rather
    // than wrap if a corpus ever has >2^31 word types
    require(nTypes <= Int.MaxValue, s"vocabulary ($nTypes types) exceeds Int token_id range")
    val vocab = freqs
      .repartitionByRange(s.sessionState.conf.numShufflePartitions,
        col("freq").desc, col("word").asc)
      .sortWithinPartitions(col("freq").desc, col("word"))
      .select(col("word")).as[String].rdd
      .zipWithIndex()
      .map { case (w, i) => (w, (i + 1L).toInt) }
      .toDF("word", "token_id")
    val dim = if (nTypes <= VocabBroadcastMaxTypes) broadcast(vocab) else vocab
    words.join(dim, "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        min("token_id").as("top_rank_used"),
        expr("array_join(transform(sort_array(collect_list(struct(pos, token_id))), x -> cast(x.token_id as string)), ' ')")
          .as("token_ids"))
  }

  /** BPE merge-rule training (the tokenizer-vocabulary step of an LLM
    * data pipeline): five greedy merge iterations over whitespace
    * tokens — each round counts adjacent pairs, picks the most frequent
    * (ties lexicographic), and rewrites the corpus with a left-to-right
    * non-overlapping fold before the next count, exactly the BPE
    * training loop. Trained on a deterministic 1-in-20 document sample:
    * sampling the corpus for vocab training is what production
    * tokenizers do, and it bounds the sequential fold's input; the
    * learned rule table is driver-sized BY DEFINITION (it IS the
    * model), so the collect-per-round is the established
    * train→broadcast pattern (IVF/PQ Lloyd training), not a
    * distributed-operator smell.
    *
    * The merged symbol is `left⊕U+0001⊕right`, which no whitespace
    * token can equal, so a just-merged symbol can never re-match its
    * left part — the fold is well-defined and the DuckDB oracle replays
    * it as a per-position recursive CTE.
    *
    * Scale shape: per round, one explode+count shuffle over the SAMPLE
    * and a map-side HOF rewrite; the full corpus is never folded —
    * applying learned rules corpus-wide is a map-side transform
    * (spec-exercised), not part of training. */
  /** One greedy left-to-right merge pass of rule (l, r) over a token
    * array column. Column-based HOF so rule tokens (which may themselves
    * contain the U+0001 merge separator from earlier rounds) need no SQL
    * escaping. */
  private def bpeMergePass(toks: Column, l: String, r: String): Column =
    aggregate(toks, typedLit(Seq.empty[String]),
      (acc, x) => when(
          size(acc) > 0 && element_at(acc, -1) === lit(l) && x === lit(r),
          concat(slice(acc, lit(1), size(acc) - 1),
            array(concat(lit(l), lit("\u0001"), lit(r)))))
        .otherwise(concat(acc, array(x))))

  /** The 5-round greedy training loop over the 1-in-20 sample: returns
    * each round's argmax rule + post-merge sample token count. The
    * per-round collect is the established train-then-broadcast pattern
    * (the rule table IS the model). */
  private def bpeTrain(s: SparkSession, d: String): Seq[(Int, String, String, Long, Long)] = {
    val sample = Tables.documents(s, d).filter(col("doc_id") % 20 === 0)
      .select(split(col("text"), " ").as("toks"))
      .persist()
    var cur = sample.toDF()
    // Each round's rewritten sample persists and the previous round's
    // cache drops once the new one is materialized (r17): unpersisted,
    // round k's THREE consumers (pair count, token count, round k+1's
    // rewrite) each re-executed the whole chain of k interpreted merge
    // folds from the raw sample — O(rounds²) fold applications for an
    // O(rounds) loop. The sample relation is tiny (1-in-20 docs) at any
    // corpus scale, so the cache is bounded by the training sample.
    var prevCached: Option[DataFrame] = None
    val rules = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long, Long)]()
    var exhausted = false // empty corpus / no bigrams left: stop merging
    for (step <- 1 to 5 if !exhausted) {
      val tops = cur.select(explode(expr(
          "zip_with(slice(toks, 1, size(toks) - 1), slice(toks, 2, size(toks) - 1), (a, b) -> struct(a AS l, b AS r))")).as("p"))
        .groupBy("p.l", "p.r").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("l"), col("r")).limit(1).collect()
      if (tops.isEmpty) exhausted = true
      else {
        val top = tops(0)
        val (l, r, n) = (top.getString(0), top.getString(1), top.getLong(2))
        // persist only while another round will consume this generation
        // (r18, VERDICT r17 item 2): the LAST round's rewrite feeds only
        // the token count right below, so its persist was a pure cache
        // fill — one generation less of churn per run on both BPE rows
        val rewritten = cur.select(bpeMergePass(col("toks"), l, r).as("toks"))
        cur = if (step < 5) rewritten.persist() else rewritten
        // the token-count action materializes the fresh cache, so the
        // previous generation can drop immediately after
        val tokAfter = cur.agg(sum(size(col("toks"))).cast("long")).collect()(0).getLong(0)
        prevCached.foreach(_.unpersist())
        prevCached = Some(cur)
        rules += ((step, l, r, n, tokAfter))
      }
    }
    prevCached.foreach(_.unpersist())
    sample.unpersist()
    rules.toSeq
  }

  def qBpeMerges(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    bpeTrain(s, d).toDF("step", "left_tok", "right_tok", "n_pair", "sample_tokens_after")
  }

  /** BPE ENCODE — the apply face of [[qBpeMerges]]: tokenize a held-out
    * document set (doc_id % 20 == 1, disjoint from the training sample)
    * with the trained merge table, applying the five rules in rank
    * order, and report per-document raw vs encoded token counts — the
    * compression a tokenizer buys, measured out-of-sample.
    *
    * Scale shape: training is the bounded sample loop above; APPLYING
    * the broadcast rule table is pure map-side (five chained folds per
    * document, no shuffle) — exactly how a production tokenizer runs
    * over 100 TB once its merges are fixed. The held-out 1-in-20 slice
    * keeps the oracle's per-position recursion bounded; the engine-side
    * plan is the same at any slice. */
  def qBpeEncode(s: SparkSession, d: String): DataFrame = {
    val rules = bpeTrain(s, d)
    val enc0 = Tables.documents(s, d).filter(col("doc_id") % 20 === 1)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n_raw", size(col("toks")).cast("long"))
    val encoded = rules.foldLeft(enc0) { case (df, (_, l, r, _, _)) =>
      df.withColumn("toks", bpeMergePass(col("toks"), l, r))
    }
    encoded
      .withColumn("n_bpe", size(col("toks")).cast("long"))
      .select(col("doc_id"), col("n_raw"), col("n_bpe"),
        (col("n_raw") - col("n_bpe")).as("n_merged"),
        round(col("n_bpe").cast("double") / col("n_raw"), 6).as("compression"))
  }

  /** DuckDB replay of [[qBpeMerges]]: per round, pair counts via an
    * unnest over positions, the argmax rule, and the greedy fold as a
    * per-position recursive CTE (acc list per doc, one level per
    * token). Generated by loop so the five rounds can't drift. */
  private def bpeOracle: String = {
    val sb = new StringBuilder(
      "WITH RECURSIVE seqs_1 AS MATERIALIZED (SELECT doc_id AS doc, string_split(text, ' ') AS toks " +
        "FROM documents WHERE doc_id % 20 = 0)")
    for (k <- 1 to 5) {
      sb.append(s""",
        |pairs_$k AS MATERIALIZED (
        |  SELECT l, r, COUNT(*) AS n FROM (
        |    SELECT list_extract(t.toks, u.i) AS l, list_extract(t.toks, u.i + 1) AS r
        |    FROM seqs_$k t, LATERAL unnest(range(1, len(t.toks))) AS u(i))
        |  GROUP BY 1, 2),
        |rule_$k AS MATERIALIZED (SELECT l, r, CAST(n AS BIGINT) AS n FROM pairs_$k
        |  ORDER BY n DESC, l, r LIMIT 1),
        |m_$k AS (
        |  SELECT doc, 1 AS pos, list_value(list_extract(toks, 1)) AS acc, toks FROM seqs_$k
        |  UNION ALL
        |  SELECT doc, pos + 1,
        |    CASE WHEN list_extract(acc, -1) = (SELECT l FROM rule_$k)
        |        AND list_extract(toks, pos + 1) = (SELECT r FROM rule_$k)
        |      THEN list_append(list_slice(acc, 1, len(acc) - 1),
        |        (SELECT l FROM rule_$k) || chr(1) || (SELECT r FROM rule_$k))
        |      ELSE list_append(acc, list_extract(toks, pos + 1)) END,
        |    toks
        |  FROM m_$k WHERE pos < len(toks)),
        |seqs_${k + 1} AS MATERIALIZED (SELECT doc, acc AS toks FROM m_$k WHERE pos = len(toks))""".stripMargin)
    }
    sb.append("\n" + (1 to 5).map { k =>
      s"""SELECT $k AS step, l AS left_tok, r AS right_tok, n AS n_pair,
         |  (SELECT CAST(SUM(len(toks)) AS BIGINT) FROM seqs_${k + 1}) AS sample_tokens_after
         |FROM rule_$k""".stripMargin
    }.mkString("\nUNION ALL\n"))
    sb.toString
  }

  /** DuckDB replay of [[qBpeEncode]]: the training chain of [[bpeOracle]]
    * verbatim (rule_1..rule_5 over the 1-in-20 sample), then the same
    * five greedy folds applied to the held-out doc_id % 20 == 1 slice as
    * per-position recursive CTEs. */
  private def bpeEncodeOracle: String = {
    val sb = new StringBuilder(
      "WITH RECURSIVE seqs_1 AS MATERIALIZED (SELECT doc_id AS doc, string_split(text, ' ') AS toks " +
        "FROM documents WHERE doc_id % 20 = 0)")
    for (k <- 1 to 5) {
      sb.append(s""",
        |pairs_$k AS MATERIALIZED (
        |  SELECT l, r, COUNT(*) AS n FROM (
        |    SELECT list_extract(t.toks, u.i) AS l, list_extract(t.toks, u.i + 1) AS r
        |    FROM seqs_$k t, LATERAL unnest(range(1, len(t.toks))) AS u(i))
        |  GROUP BY 1, 2),
        |rule_$k AS MATERIALIZED (SELECT l, r, CAST(n AS BIGINT) AS n FROM pairs_$k
        |  ORDER BY n DESC, l, r LIMIT 1),
        |m_$k AS (
        |  SELECT doc, 1 AS pos, list_value(list_extract(toks, 1)) AS acc, toks FROM seqs_$k
        |  UNION ALL
        |  SELECT doc, pos + 1,
        |    CASE WHEN list_extract(acc, -1) = (SELECT l FROM rule_$k)
        |        AND list_extract(toks, pos + 1) = (SELECT r FROM rule_$k)
        |      THEN list_append(list_slice(acc, 1, len(acc) - 1),
        |        (SELECT l FROM rule_$k) || chr(1) || (SELECT r FROM rule_$k))
        |      ELSE list_append(acc, list_extract(toks, pos + 1)) END,
        |    toks
        |  FROM m_$k WHERE pos < len(toks)),
        |seqs_${k + 1} AS MATERIALIZED (SELECT doc, acc AS toks FROM m_$k WHERE pos = len(toks))""".stripMargin)
    }
    sb.append(""",
      |enc_1 AS MATERIALIZED (SELECT doc_id AS doc, string_split(text, ' ') AS toks
      |  FROM documents WHERE doc_id % 20 = 1)""".stripMargin)
    for (k <- 1 to 5) {
      sb.append(s""",
        |em_$k AS (
        |  SELECT doc, 1 AS pos, list_value(list_extract(toks, 1)) AS acc, toks FROM enc_$k
        |  UNION ALL
        |  SELECT doc, pos + 1,
        |    CASE WHEN list_extract(acc, -1) = (SELECT l FROM rule_$k)
        |        AND list_extract(toks, pos + 1) = (SELECT r FROM rule_$k)
        |      THEN list_append(list_slice(acc, 1, len(acc) - 1),
        |        (SELECT l FROM rule_$k) || chr(1) || (SELECT r FROM rule_$k))
        |      ELSE list_append(acc, list_extract(toks, pos + 1)) END,
        |    toks
        |  FROM em_$k WHERE pos < len(toks)),
        |enc_${k + 1} AS MATERIALIZED (SELECT doc, acc AS toks FROM em_$k WHERE pos = len(toks))""".stripMargin)
    }
    sb.append("""
      |SELECT e1.doc AS doc_id, CAST(len(e1.toks) AS BIGINT) AS n_raw,
      |  CAST(len(e6.toks) AS BIGINT) AS n_bpe,
      |  CAST(len(e1.toks) - len(e6.toks) AS BIGINT) AS n_merged,
      |  round(CAST(len(e6.toks) AS DOUBLE) / len(e1.toks), 6) AS compression
      |FROM enc_1 e1 JOIN enc_6 e6 ON e1.doc = e6.doc""".stripMargin)
    sb.toString
  }

  /** Flesch–Kincaid-style readability grade per document (the text
    * quality signal complexity filters use next to Gopher rules):
    * syllables ≈ vowel-group runs per word (min 1), sentences =
    * terminal-punctuation count (min 1), grade = 0.39·(words/sentence)
    * + 11.8·(syllables/word) − 15.59. Counts are exact integers; the
    * grade is one identical float expression in both engines.
    *
    * Scale shape: pure map-side — a regexp count per word folded as an
    * integer HOF; no shuffle at any corpus size. */
  def qTextReadability(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .withColumn("words", split(col("text"), " "))
      .select(col("doc_id"),
        size(col("words")).cast("long").as("n_words"),
        greatest(expr("CAST(regexp_count(text, '[.!?]') AS BIGINT)"), lit(1L)).as("n_sentences"),
        expr("""aggregate(words, CAST(0 AS BIGINT),
          | (a, w) -> a + greatest(CAST(regexp_count(w, '[aeiouy]+') AS BIGINT), CAST(1 AS BIGINT)))"""
          .stripMargin.replace("\n", "")).as("n_syllables"))
      .withColumn("fk_grade", round(expr(
        "0.39 * (CAST(n_words AS DOUBLE) / n_sentences) + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words) - 15.59"), 4))
  }

  /** Label-noise audit via the confident-joint matrix (the heart of
    * confident learning, Northcutt et al. 2021): cross-tabulate each
    * held-out document's GIVEN label against the classifier's PREDICTED
    * label — the off-diagonal mass estimates the label-error rate per
    * class, and the flagged cells are where a relabeling budget should
    * go. Reuses the [[qNaiveBayes]] prediction relation unchanged.
    *
    * Scale shape: inherits the classifier's plan; the joint matrix is a
    * |classes|² aggregate and the per-class totals ride a window over
    * those bounded cells. */
  def qLabelNoise(s: SparkSession, d: String): DataFrame = {
    nbScored(s, d).filter(col("rn") === 1)
      .select(col("lang"), col("c").as("pred_lang"))
      .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n_docs"))
      .withColumn("n_given", sum("n_docs").over(Window.partitionBy("lang")))
      .select(col("lang"), col("pred_lang"), col("n_docs"), col("n_given"),
        round(col("n_docs").cast("double") / col("n_given"), 6).as("cell_frac"),
        (col("lang") =!= col("pred_lang")).as("suspected_noise"))
  }

  /** Wilson-score ranking of sources by quality-gate pass rate — the
    * small-sample-honest ordering (the classic "how not to sort by
    * average rating" correction): rank by the 95% LOWER confidence
    * bound of the [[qGopherQuality]] pass proportion, so a source with
    * 3/3 passes cannot outrank one with 480/500. The bound is the
    * Wilson interval (p̂ + z²/2n − z√((p̂(1−p̂) + z²/4n)/n)) / (1 + z²/n)
    * at z = 1.96, computed as one identical float expression from the
    * exact integer (n_pass, n_docs) in both engines.
    *
    * Scale shape: the gate is the existing map-side quality pass; the
    * aggregate and the rank window are |sources|-bounded. */
  def qWilsonRank(s: SparkSession, d: String): DataFrame = {
    val wilson =
      """(CAST(n_pass AS DOUBLE) / n_docs + 1.96 * 1.96 / (2 * n_docs)
        | - 1.96 * sqrt((CAST(n_pass AS DOUBLE) / n_docs * (1 - CAST(n_pass AS DOUBLE) / n_docs)
        |     + 1.96 * 1.96 / (4 * n_docs)) / n_docs))
        | / (1 + 1.96 * 1.96 / n_docs)""".stripMargin.replace("\n", "")
    qGopherQuality(s, d).select(col("doc_id"), col("pass_all"))
      .join(Tables.documents(s, d).select(col("doc_id"), col("source")), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pass_all"), 1L).otherwise(0L)).as("n_pass"))
      .withColumn("p_hat", round(col("n_pass").cast("double") / col("n_docs"), 6))
      .withColumn("wilson_lo", round(expr(wilson), 6))
      // |sources|-bounded tail: the unpartitioned window is constant-size
      .withColumn("rank",
        row_number().over(Window.orderBy(desc("wilson_lo"), col("source"))))
  }

  /** Tokenizer FERTILITY by language — the multilingual-equity metric
    * (subtokens per whitespace word): languages whose fertility runs
    * far above the corpus mean pay more context budget per sentence
    * under the same tokenizer, the imbalance multilingual-tokenizer
    * papers report as "parity". Uses the BPE-ish regex tokenization of
    * q_token_count; parity = language fertility over corpus fertility,
    * both as exact token-count ratios.
    *
    * Scale shape: one map-side pass counts both tokenizations per doc;
    * one lang-keyed aggregate + a broadcast one-row corpus total. */
  def qTokenizerFertility(s: SparkSession, d: String): DataFrame = {
    val t = Tables.documents(s, d).select(col("lang"),
      size(split(col("text"), " ")).cast("long").as("w"),
      size(expr("regexp_extract_all(text, '[a-z]{1,4}', 0)")).cast("long").as("sub"))
    val byLang = t.groupBy("lang").agg(count(lit(1)).as("n_docs"),
      sum("w").cast("long").as("n_words"), sum("sub").cast("long").as("n_subtokens"))
    val global = t.agg(sum("w").cast("long").as("g_words"),
      sum("sub").cast("long").as("g_subtokens"))
    byLang.crossJoin(broadcast(global))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_subtokens"),
        round(col("n_subtokens").cast("double") / col("n_words"), 6).as("fertility"),
        round((col("n_subtokens").cast("double") / col("n_words")) /
          (col("g_subtokens").cast("double") / col("g_words")), 6).as("parity"))
  }

  /** Vocabulary coverage curve — the tokenizer-sizing readout (what
    * fraction of corpus TOKENS does a top-k vocabulary cover?): for
    * each budget k, the token mass of the k most frequent types. The
    * knee of this curve decides vocab size / OOV budget for any
    * frequency-ranked tokenizer.
    *
    * Scale shape: frequencies are one (word) shuffle with map-side
    * combine; the global rank is the range-partitioned
    * sort + zipWithIndex pattern (no single-partition Window — the
    * q_vocab_encode lesson); the budget fan-out is a constant 8×
    * explode over the vocab-sized relation. */
  def qVocabCoverage(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ks = Seq(1, 2, 5, 10, 20, 50, 100, 1000)
    val freqs = graft.CacheTracker.track(
      Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .persist())
    val tot = freqs.agg(sum("freq").cast("long").as("n_tokens"), count(lit(1)).as("n_types"))
    val ranked = freqs
      .repartitionByRange(s.sessionState.conf.numShufflePartitions,
        col("freq").desc, col("word").asc)
      .sortWithinPartitions(col("freq").desc, col("word"))
      .select(col("freq")).as[Long].rdd
      .zipWithIndex()
      .map { case (f, i) => (f, i + 1L) }
      .toDF("freq", "rank")
    ranked.crossJoin(broadcast(tot))
      .select(explode(typedLit(ks)).as("k"), col("freq"), col("rank"),
        col("n_tokens"), col("n_types"))
      .filter(col("rank") <= col("k"))
      .groupBy("k", "n_tokens", "n_types")
      .agg(count(lit(1)).as("n_in_vocab"), sum("freq").cast("long").as("covered"))
      .select(col("k"), col("n_in_vocab"), col("n_types"), col("n_tokens"), col("covered"),
        round(col("covered").cast("double") / col("n_tokens"), 6).as("coverage"))
  }

  /** Zipf's-law fit over the corpus word-frequency distribution — the
    * lexical sanity check curation dashboards publish (natural text has
    * rank-frequency slope ≈ −1; boilerplate/generated text departs):
    * OLS of ln(freq) on ln(rank) over the top-200 ranks, next to the
    * Heaps'-law inputs (total tokens, vocabulary size).
    *
    * Determinism: ranks come from a TakeOrdered top-200 (strict
    * (freq desc, word) order), each point's ln values round to 6 dp
    * before any arithmetic (the cross-engine libm contract q_text_bm25
    * established), and the four OLS sums fold in PINNED rank order over
    * the collected point list (the q_jackknife pattern) — so the doubles
    * are bit-identical in both engines.
    *
    * Scale shape: one (word) shuffle with map-side combine for the
    * frequency relation (vocab-sized by Heaps' law), a TakeOrdered
    * top-200 (per-partition top-k, never a global sort), and a
    * constant-200-row tail — the corpus totals reuse the persisted
    * frequency relation rather than rescanning text. */
  def qZipfFit(s: SparkSession, d: String): DataFrame = {
    val wc = graft.CacheTracker.track(
      Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .persist())
    val totals = wc.agg(
      count(lit(1)).as("n_types"),
      sum("freq").cast("long").as("n_tokens"))
    val top = wc.orderBy(col("freq").desc, col("word")).limit(200)
      // bounded 200-row tail: the single-partition window is constant-size
      .withColumn("rank",
        row_number().over(Window.orderBy(col("freq").desc, col("word"))))
      .select(col("rank"),
        expr("round(ln(CAST(rank AS DOUBLE)), 6)").as("x"),
        expr("round(ln(CAST(freq AS DOUBLE)), 6)").as("y"))
    val fit = top
      .select(col("rank"), struct(col("rank"), col("x"), col("y"),
        (col("x") * col("x")).as("xx"), (col("x") * col("y")).as("xy")).as("p"))
      .agg(count(lit(1)).as("n_fit"),
        expr("""aggregate(sort_array(collect_list(p)),
          | named_struct('sx', 0D, 'sy', 0D, 'sxx', 0D, 'sxy', 0D),
          | (a, q) -> named_struct('sx', a.sx + q.x, 'sy', a.sy + q.y,
          |   'sxx', a.sxx + q.xx, 'sxy', a.sxy + q.xy))"""
          .stripMargin.replace("\n", "")).as("s"))
      .select(col("n_fit"),
        round(expr("(n_fit * s.sxy - s.sx * s.sy) / nullif(n_fit * s.sxx - s.sx * s.sx, 0D)"), 6)
          .as("slope"),
        round(expr("(s.sy - (n_fit * s.sxy - s.sx * s.sy) / nullif(n_fit * s.sxx - s.sx * s.sx, 0D) * s.sx) / nullif(n_fit, 0)"), 6)
          .as("intercept"))
    totals.crossJoin(fit)
      .select(col("n_types"), col("n_tokens"), col("n_fit"),
        col("slope"), col("intercept"), (-col("slope")).as("zipf_alpha"))
  }

  /** Per-source lexical-diversity profile — the vocabulary-richness
    * audit that distinguishes natural prose from templated/boilerplate
    * sources: type-token ratio, hapax fraction (Heaps-law mass in
    * singleton types), and Yule's K concentration (10⁴·(Σ m·c² − N)/N²
    * over the count-of-counts — high K = few types dominate).
    *
    * Everything derives from exact integer counts — the two divisions
    * are single identical float expressions — so the output is
    * hash-stable. Scale shape: one (source, word) shuffle with map-side
    * combine (vocab-sized output), then a source-keyed reduction — the
    * same two-stage shape as q_tfidf. */
  def qLexicalDiversity(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
      .groupBy("source", "word").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(sum("c").cast("long").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"),
        sum(col("c") * col("c")).cast("long").as("sum_c2"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
        round(col("n_types").cast("double") / col("n_tokens"), 6).as("ttr"),
        round(col("n_hapax").cast("double") / col("n_types"), 6).as("hapax_frac"),
        round(lit(10000.0) * (col("sum_c2") - col("n_tokens")) /
          (col("n_tokens").cast("double") * col("n_tokens")), 6).as("yule_k"))
  }

  /** BOILERPLATE LINE REMOVAL (the CCNet/RefinedWeb cleaning stage): a
    * line that repeats across many documents of the SAME source —
    * subscribe banners, copyright footers, cookie notices — is template
    * chrome, not content, and a crawl pipeline strips it by per-source
    * line frequency before any content-level dedup. The corpus has no
    * line structure, so template lines are INJECTED deterministically
    * (a per-source subscribe header on every even doc, a rights footer
    * on every third doc, newline-joined with the body); the detector
    * does NOT know the injection — it rediscovers it purely from
    * frequency: a line is boilerplate iff it occurs in ≥20% of its
    * source's docs AND ≥3 docs. Body lines occur once and survive.
    * Scale shape: explode lines → one groupBy on (source, line-hash) —
    * the paragraph-hash dedup plan — then a tiny per-source rollup;
    * the full line text never leaves the first aggregate at scale
    * (md5 keys would replace raw lines; kept raw here so the oracle is
    * readable). */
  def qBoilerplate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"), col("text"))
      .withColumn("lined", concat(
        when(col("doc_id") % 2 === 0,
          concat(lit("subscribe to "), col("source"), lit(" newsletter today\n")))
          .otherwise(lit("")),
        col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit("\nall rights reserved "), col("source"))).otherwise(lit(""))))
    val perSourceDocs = docs.groupBy("source").agg(countDistinct("doc_id").as("n_docs"))
    val lines = docs
      .select(col("doc_id"), col("source"), explode(split(col("lined"), "\n")).as("line"))
    val freq = lines.groupBy("source", "line")
      .agg(countDistinct("doc_id").as("df"), count(lit(1)).as("n_occ"))
    freq.join(broadcast(perSourceDocs), "source")
      .withColumn("is_boiler",
        col("df") >= 3 && col("df").cast("double") >= lit(0.2) * col("n_docs"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_distinct_lines"),
        sum(when(col("is_boiler"), 1L).otherwise(0L)).as("n_boiler_lines"),
        sum(when(col("is_boiler"), col("n_occ")).otherwise(0L)).cast("long").as("n_boiler_occ"),
        sum(when(col("is_boiler"), col("n_occ") * (length(col("line")) + 1))
          .otherwise(0L)).cast("long").as("chars_removed"),
        sum(col("n_occ") * (length(col("line")) + 1)).cast("long").as("chars_total"))
      .withColumn("pct_removed",
        round(col("chars_removed").cast("double") / col("chars_total"), 6))
  }

  /** DEGENERATE-LOOP detection — the model-generated-text artifact gate
    * (synthetic/LLM-produced training data fails by repeating a short
    * phrase until the length cap; Holtzman et al. 2020's neural
    * degeneration): the per-doc MAXIMUM CONSECUTIVE RUN of an identical
    * word trigram, found with the gaps-and-islands trick (pos − rank
    * within (doc, gram) is constant exactly on a consecutive run — the
    * q_streaks pattern at token granularity). Gopher's top-2-gram RATIO
    * (q_gopher_quality) misses loops in long docs — a 30-token loop in
    * a 10k-token doc is 0.3% by ratio but an unmistakable 28-run here.
    * Loops are INJECTED (every 13th doc gets a 30× repeated token tail);
    * the detector rediscovers them from positions alone. Scale shape:
    * posexplode → one (doc, gram)-keyed window + groupBy — everything
    * partitions by doc; output only flagged docs. */
  def qRepetitionLoops(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        when(col("doc_id") % 13 === 0,
          concat(col("text"), lit(" "),
            array_join(array_repeat(lit("spam"), 30), " ")))
          .otherwise(col("text")).as("text"))
    val grams = docs
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), col("source"),
        posexplode(expr(
          "transform(sequence(0, size(w) - 3), i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))"))
          .as(Seq("pos", "g")))
    val wRun = Window.partitionBy("doc_id", "g").orderBy("pos")
    val runs = grams
      .withColumn("island", col("pos") - row_number().over(wRun))
      .groupBy("doc_id", "source", "g", "island")
      .agg(count(lit(1)).as("run"))
    val wBest = Window.partitionBy("doc_id")
      .orderBy(col("run").desc, col("g").asc, col("island").asc)
    runs.withColumn("rk", row_number().over(wBest))
      .filter(col("rk") === 1 && col("run") >= 10)
      .select(col("doc_id"), col("source"), col("g").as("loop_gram"),
        col("run").cast("long").as("max_run"))
  }

  /** SECRET/CREDENTIAL scanning — the leaked-API-key gate every
    * pretraining pipeline runs beside PII scrubbing (q_pii_scrub covers
    * emails/phones; keys need a different detector because they are not
    * pattern-shaped, they are ENTROPY-shaped): long tokens (≥20 chars)
    * whose character Shannon entropy crosses a threshold are flagged and
    * reported MASKED (a secret scanner that prints the secret is itself
    * a leak). Keys are injected ('sk-' + md5 hex on every 11th doc);
    * natural dictionary words never reach candidate length, so the gate
    * demonstrates zero false positives on the corpus. Entropy is folded
    * over the char-ascending count list (the pinned-order float-fold
    * discipline) so both engines produce bit-identical doubles. Scale
    * shape: token explode with a length prefilter (candidates are rare),
    * char-level work only on candidates. */
  def qSecretScan(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"),
      when(col("doc_id") % 11 === 0,
        concat(col("text"), lit(" sk-"), md5(col("doc_id").cast("string"))))
        .otherwise(col("text")).as("text"))
    val cand = docs
      .select(col("doc_id"), col("source"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) >= 20)
    cand
      .select(col("doc_id"), col("source"), col("tok"),
        explode(expr("transform(sequence(1, length(tok)), i -> substring(tok, i, 1))")).as("ch"))
      .groupBy("doc_id", "source", "tok", "ch")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id", "source", "tok")
      .agg(sum("c").cast("long").as("token_len"),
        sort_array(collect_list(struct(col("ch"), col("c")))).as("cc"),
        sum(expr("CASE WHEN (ch >= '0' AND ch <= '9') OR (ch >= 'a' AND ch <= 'f') " +
          "OR ch = '-' THEN c ELSE 0 END")).cast("long").as("n_hexish"))
      .select(col("doc_id"), col("source"),
        concat(substring(col("tok"), 1, 6), lit("***")).as("token_masked"),
        col("token_len"),
        round(expr("aggregate(cc, CAST(0 AS DOUBLE), (a, x) -> " +
          "a - (CAST(x.c AS DOUBLE) / token_len) * ln(CAST(x.c AS DOUBLE) / token_len))"), 6)
          .as("entropy"),
        round(col("n_hexish").cast("double") / col("token_len"), 6).as("hexish_frac"))
      .filter(col("entropy") >= 2.0)
  }

  val registry: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_secret_scan" -> (qSecretScan _),
    "q_repetition_loops" -> (qRepetitionLoops _),
    "q_boilerplate" -> (qBoilerplate _),
    "q_label_noise" -> (qLabelNoise _),
    "q_wilson_rank" -> (qWilsonRank _),
    "q_bpe_encode" -> (qBpeEncode _),
    "q_vocab_coverage" -> (qVocabCoverage _),
    "q_tokenizer_fertility" -> (qTokenizerFertility _),
    "q_zipf_fit" -> (qZipfFit _),
    "q_lexical_diversity" -> (qLexicalDiversity _),
    "q_text_readability" -> (qTextReadability _),
    "q_bpe_merges" -> (qBpeMerges _),
    "q_phrase_search" -> (qPhraseSearch _),
    "q_rrf_fusion" -> (qRrfFusion _),
    "q_token_pmi" -> (qTokenPmi _),
    "q_vocab_encode" -> (qVocabEncode _),
    "q_text_entropy" -> (qTextEntropy _),
    "q_doc_chunks" -> (qDocChunks _),
    "q_pii_scrub" -> (qPiiScrub _),
    "q_cms_heavy_hitters" -> (qCmsHeavyHitters _),
    "q_decontaminate" -> (qDecontaminate _),
    "q_decontaminate_bloom" -> (qDecontaminateBloom _),
    "q_lm_perplexity" -> (qLmPerplexity _),
    "q_naive_bayes" -> (qNaiveBayes _),
    "q_kneser_ney" -> (qKneserNey _),
    "q_feature_hash" -> (qFeatureHash _),
    "q_negative_sampling" -> (qNegativeSampling _),
    "q_active_learning" -> (qActiveLearning _),
    "q_gopher_quality" -> (qGopherQuality _),
    "q_quality_classifier" -> (qQualityClassifier _),
    "q_calibration" -> (qCalibration _),
    "q_mutual_info" -> (qMutualInfo _),
    "q_chi2_contingency" -> (qChi2Contingency _),
    "q_sparse_cosine" -> (qSparseCosine _),
    "q_tfidf_top_terms" -> (qTfidfTopTerms _),
    "q_text_bm25" -> (qTextBm25 _),
    "q_langid_ngram" -> (qLangidNgram _),
    "q_rolling_fingerprint" -> (qRollingFingerprint _),
    "q_text_stats" -> (qTextStats _),
    "q_text_langid" -> (qTextLangid _),
    "q_langid_confusion" -> (qLangidConfusion _),
    "q_cohens_kappa" -> (qCohensKappa _),
    "q_hill_tail" -> (qHillTail _),
    "q_token_js_drift" -> (qTokenJsDrift _),
    "q_heaps_law" -> (qHeapsLaw _),
    "q_token_count" -> (qTokenCount _),
    "q_doc_fingerprint" -> (qDocFingerprint _))

  /** Shared by q_decontaminate and q_decontaminate_bloom: the Bloom gate
    * is a plan optimization, not a semantics change. */
  private val decontaminateSql: String =
    """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
      |eg AS (
      |  SELECT DISTINCT unnest(list_transform(range(1, len(list_slice(words, 4, 28)) - 3),
      |    i -> array_to_string(list_slice((list_slice(words, 4, 28)), i, i+4), ' '))) AS gram
      |  FROM docs WHERE doc_id % 50 = 0 AND len(list_slice(words, 4, 28)) >= 5),
      |tg AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(words) < 5 THEN list_value()
      |    ELSE list_transform(range(1, len(words) - 3),
      |      i -> array_to_string(list_slice(words, i, i+4), ' ')) END) AS grams
      |  FROM docs),
      |tx AS (SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS gram FROM tg),
      |ov AS (
      |  SELECT doc_id, n_grams, COUNT(*) AS n_overlap
      |  FROM tx JOIN eg USING (gram) GROUP BY 1, 2)
      |SELECT doc_id, CAST(n_grams AS INTEGER) AS n_grams, n_overlap,
      |  CAST(n_overlap AS DOUBLE) / n_grams AS contamination
      |FROM ov""".stripMargin

  // Shared NB oracle chain (train counts → smoothed per-class scores →
  // per-doc rank) — the classifier and the uncertainty sampler read the
  // same `rk` relation.
  private val nbChainSql =
    """WITH train AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 2 = 0),
      |test AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 2 = 1),
      |tw AS (SELECT lang AS c, unnest(string_split(text, ' ')) AS word FROM train),
      |cnts AS (SELECT c, word, COUNT(*) AS cnt FROM tw GROUP BY 1, 2),
      |tot AS (SELECT c, CAST(SUM(cnt) AS BIGINT) AS tot FROM cnts GROUP BY 1),
      |vs AS (SELECT COUNT(DISTINCT word) AS v FROM cnts),
      |pri AS (SELECT lang AS c, COUNT(*) AS ndc FROM train GROUP BY 1),
      |ntr AS (SELECT COUNT(*) AS nd FROM train),
      |vocab AS (SELECT DISTINCT word FROM cnts),
      |sw AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word FROM test),
      |tm AS (SELECT doc_id, lang, word, COUNT(*) AS m FROM sw GROUP BY 1, 2, 3),
      |tv AS (SELECT tm.* FROM tm JOIN vocab USING (word)),
      |pr AS (
      |  SELECT tv.doc_id, tv.lang, t.c, t.tot, COALESCE(cn.cnt, 0) AS cnt, tv.m
      |  FROM tv CROSS JOIN tot t
      |  LEFT JOIN cnts cn ON cn.c = t.c AND cn.word = tv.word),
      |g AS (SELECT doc_id, lang, c, tot, cnt, CAST(SUM(m) AS BIGINT) AS mt
      |  FROM pr GROUP BY 1, 2, 3, 4, 5),
      |sc AS (
      |  SELECT doc_id, lang, g.c,
      |    round(list_reduce(list_prepend(ln(CAST(ndc AS DOUBLE) / nd),
      |      list_transform(list_sort(list(list_value(CAST(cnt AS DOUBLE), mt * ln((cnt + 1.0) / (tot + v))))), pr -> list_extract(pr, 2))),
      |      (a, b) -> a + b), 6) AS score_r
      |  FROM g CROSS JOIN vs CROSS JOIN ntr JOIN pri ON pri.c = g.c
      |  GROUP BY doc_id, lang, g.c, tot, ndc, nd, v),
      |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
      |    ORDER BY score_r DESC, c) AS rn FROM sc)""".stripMargin

  /** The q_text_langid oracle, shared verbatim by q_langid_confusion's
    * base CTE so both stay definitionally in sync. */
  private def langidBaseSql: String =
    s"""WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents),
       |sc AS (SELECT doc_id, lang,
       |    CAST(len(list_filter(words, x -> x IN ${inList(stopEn)})) AS INTEGER) AS score_en,
       |    CAST(len(list_filter(words, x -> x IN ${inList(stopEs)})) AS INTEGER) AS score_es,
       |    CAST(len(list_filter(words, x -> x IN ${inList(stopDe)})) AS INTEGER) AS score_de,
       |    CAST(len(list_filter(words, x -> x IN ${inList(stopFr)})) AS INTEGER) AS score_fr
       |  FROM w)
       |SELECT doc_id, score_en, score_es, score_de, score_fr,
       |  CASE WHEN score_en >= score_es AND score_en >= score_de AND score_en >= score_fr
       |            AND score_en > 0 THEN 'en'
       |       WHEN score_es >= score_de AND score_es >= score_fr AND score_es > 0 THEN 'es'
       |       WHEN score_de >= score_fr AND score_de > 0 THEN 'de'
       |       WHEN score_fr > 0 THEN 'fr'
       |       ELSE 'unknown' END AS pred_lang,
       |  lang,
       |  (CASE WHEN score_en >= score_es AND score_en >= score_de AND score_en >= score_fr
       |             AND score_en > 0 THEN 'en'
       |        WHEN score_es >= score_de AND score_es >= score_fr AND score_es > 0 THEN 'es'
       |        WHEN score_de >= score_fr AND score_de > 0 THEN 'de'
       |        WHEN score_fr > 0 THEN 'fr'
       |        ELSE 'unknown' END = lang) AS is_match
       |FROM sc""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_secret_scan" ->
      """WITH docs AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 11 = 0
        |      THEN concat(text, ' sk-', md5(CAST(doc_id AS STRING)))
        |      ELSE text END AS text
        |  FROM documents),
        |cand AS (
        |  SELECT doc_id, source, tok
        |  FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok FROM docs)
        |  WHERE len(tok) >= 20),
        |chars AS (
        |  SELECT doc_id, source, tok, substring(tok, i, 1) AS ch
        |  FROM cand, LATERAL unnest(range(1, len(tok) + 1)) AS u(i)),
        |cc AS (
        |  SELECT doc_id, source, tok, ch, COUNT(*) AS c
        |  FROM chars GROUP BY doc_id, source, tok, ch),
        |t AS (
        |  SELECT doc_id, source, tok,
        |    CAST(SUM(c) AS BIGINT) AS token_len,
        |    list_sort(list(list_value(ch, CAST(c AS STRING)))) AS ccs,
        |    CAST(SUM(CASE WHEN (ch >= '0' AND ch <= '9') OR (ch >= 'a' AND ch <= 'f')
        |      OR ch = '-' THEN c ELSE 0 END) AS BIGINT) AS n_hexish
        |  FROM cc GROUP BY doc_id, source, tok)
        |SELECT doc_id, source,
        |  concat(substring(tok, 1, 6), '***') AS token_masked, token_len,
        |  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(ccs, x ->
        |      -(CAST(list_extract(x, 2) AS DOUBLE) / token_len) * ln(CAST(list_extract(x, 2) AS DOUBLE) / token_len))),
        |    (a, x) -> a + x), 6) AS entropy,
        |  round(CAST(n_hexish AS DOUBLE) / token_len, 6) AS hexish_frac
        |FROM t
        |WHERE round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(ccs, x ->
        |      -(CAST(list_extract(x, 2) AS DOUBLE) / token_len) * ln(CAST(list_extract(x, 2) AS DOUBLE) / token_len))),
        |    (a, x) -> a + x), 6) >= 2.0""".stripMargin,
    "q_repetition_loops" ->
      """WITH docs AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 13 = 0
        |      THEN concat(text, ' ',
        |        array_to_string(list_transform(range(30), x -> 'spam'), ' '))
        |      ELSE text END AS text
        |  FROM documents),
        |ws AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM docs),
        |g AS (
        |  SELECT doc_id, source, i AS pos,
        |    list_extract(w, i + 1) || ' ' || list_extract(w, i + 2) || ' ' || list_extract(w, i + 3) AS g
        |  FROM ws, LATERAL unnest(range(0, len(w) - 2)) AS u(i)
        |  WHERE len(w) >= 3),
        |runs AS (
        |  SELECT doc_id, source, g,
        |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id, g ORDER BY pos) AS island
        |  FROM g),
        |agg AS (
        |  SELECT doc_id, source, g, island, COUNT(*) AS run
        |  FROM runs GROUP BY doc_id, source, g, island),
        |best AS (
        |  SELECT doc_id, source, g, run,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY run DESC, g, island) AS rk
        |  FROM agg)
        |SELECT doc_id, source, g AS loop_gram, CAST(run AS BIGINT) AS max_run
        |FROM best WHERE rk = 1 AND run >= 10""".stripMargin,
    "q_boilerplate" ->
      """WITH lined AS (
        |  SELECT doc_id, source,
        |    concat(
        |      CASE WHEN doc_id % 2 = 0
        |        THEN concat('subscribe to ', source, ' newsletter today', chr(10))
        |        ELSE '' END,
        |      text,
        |      CASE WHEN doc_id % 3 = 0
        |        THEN concat(chr(10), 'all rights reserved ', source)
        |        ELSE '' END) AS lined
        |  FROM documents),
        |nd AS (SELECT source, COUNT(DISTINCT doc_id) AS n_docs FROM lined GROUP BY 1),
        |lines AS (
        |  SELECT doc_id, source, unnest(string_split(lined, chr(10))) AS line
        |  FROM lined),
        |freq AS (
        |  SELECT source, line, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS n_occ
        |  FROM lines GROUP BY 1, 2),
        |j AS (
        |  SELECT f.source, f.line, f.df, f.n_occ,
        |    (f.df >= 3 AND CAST(f.df AS DOUBLE) >= 0.2 * nd.n_docs) AS is_boiler
        |  FROM freq f JOIN nd ON f.source = nd.source)
        |SELECT source,
        |  COUNT(*) AS n_distinct_lines,
        |  CAST(SUM(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler_lines,
        |  CAST(SUM(CASE WHEN is_boiler THEN n_occ ELSE 0 END) AS BIGINT) AS n_boiler_occ,
        |  CAST(SUM(CASE WHEN is_boiler THEN n_occ * (len(line) + 1) ELSE 0 END) AS BIGINT)
        |    AS chars_removed,
        |  CAST(SUM(n_occ * (len(line) + 1)) AS BIGINT) AS chars_total,
        |  round(CAST(SUM(CASE WHEN is_boiler THEN n_occ * (len(line) + 1) ELSE 0 END) AS DOUBLE)
        |    / SUM(n_occ * (len(line) + 1)), 6) AS pct_removed
        |FROM j GROUP BY source""".stripMargin,
    "q_label_noise" ->
      s"""$nbChainSql,
         |p AS (SELECT lang, c AS pred_lang FROM rk WHERE rn = 1),
         |m AS (SELECT lang, pred_lang, COUNT(*) AS n_docs FROM p GROUP BY 1, 2),
         |t AS (SELECT *, CAST(SUM(n_docs) OVER (PARTITION BY lang) AS BIGINT) AS n_given FROM m)
         |SELECT lang, pred_lang, n_docs, n_given,
         |  round(CAST(n_docs AS DOUBLE) / n_given, 6) AS cell_frac,
         |  lang <> pred_lang AS suspected_noise
         |FROM t""".stripMargin,
    "q_wilson_rank" ->
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS words FROM documents),
        |base AS (SELECT doc_id, source, len(words) AS n_words,
        |    CAST(list_sum(list_transform(words, x -> length(x))) AS DOUBLE) / len(words) AS mwl
        |  FROM w),
        |g2 AS (SELECT doc_id, unnest(CASE WHEN len(words) < 2 THEN list_value()
        |    ELSE list_transform(range(1, len(words)), i -> list_extract(words, i) || ' ' || list_extract(words, i+1)) END) AS g
        |  FROM w),
        |gc AS (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY 1, 2),
        |rep AS (SELECT doc_id, MAX(c) AS max2, SUM(c) AS tot2 FROM gc GROUP BY 1),
        |f AS (SELECT b.doc_id, b.source,
        |    ((b.mwl >= 3 AND b.mwl <= 10) AND (CAST(max2 AS DOUBLE) / tot2 <= 0.2)
        |      AND (b.n_words >= 20)) AS pass_all
        |  FROM base b JOIN rep USING (doc_id)),
        |a AS (SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(CASE WHEN pass_all THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
        |  FROM f GROUP BY 1),
        |wl AS (SELECT source, n_docs, n_pass,
        |    round(CAST(n_pass AS DOUBLE) / n_docs, 6) AS p_hat,
        |    round((CAST(n_pass AS DOUBLE) / n_docs + 1.96 * 1.96 / (2 * n_docs)
        |      - 1.96 * sqrt((CAST(n_pass AS DOUBLE) / n_docs * (1 - CAST(n_pass AS DOUBLE) / n_docs)
        |          + 1.96 * 1.96 / (4 * n_docs)) / n_docs))
        |      / (1 + 1.96 * 1.96 / n_docs), 6) AS wilson_lo
        |  FROM a)
        |SELECT source, n_docs, n_pass, p_hat, wilson_lo,
        |  CAST(ROW_NUMBER() OVER (ORDER BY wilson_lo DESC, source) AS INTEGER) AS rank
        |FROM wl""".stripMargin,
    "q_zipf_fit" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        |wc AS (SELECT word, COUNT(*) AS freq FROM w GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS n_types, CAST(SUM(freq) AS BIGINT) AS n_tokens FROM wc),
        |top AS (SELECT word, freq, ROW_NUMBER() OVER (ORDER BY freq DESC, word) AS rank
        |  FROM wc ORDER BY freq DESC, word LIMIT 200),
        |pts AS (SELECT rank, round(ln(CAST(rank AS DOUBLE)), 6) AS x,
        |    round(ln(CAST(freq AS DOUBLE)), 6) AS y FROM top),
        |f AS (
        |  SELECT COUNT(*) AS n_fit,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(list_sort(list(list_value(CAST(rank AS DOUBLE), x))), pr -> list_extract(pr, 2))), (a, b) -> a + b) AS s_x,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(list_sort(list(list_value(CAST(rank AS DOUBLE), y))), pr -> list_extract(pr, 2))), (a, b) -> a + b) AS s_y,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(list_sort(list(list_value(CAST(rank AS DOUBLE), x * x))), pr -> list_extract(pr, 2))), (a, b) -> a + b) AS s_xx,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(list_sort(list(list_value(CAST(rank AS DOUBLE), x * y))), pr -> list_extract(pr, 2))), (a, b) -> a + b) AS s_xy
        |  FROM pts),
        |g AS (SELECT n_fit,
        |    round((n_fit * s_xy - s_x * s_y) / (n_fit * s_xx - s_x * s_x), 6) AS slope,
        |    round((s_y - (n_fit * s_xy - s_x * s_y) / (n_fit * s_xx - s_x * s_x) * s_x) / n_fit, 6) AS intercept
        |  FROM f)
        |SELECT n_types, n_tokens, n_fit, slope, intercept, -slope AS zipf_alpha
        |FROM tot CROSS JOIN g""".stripMargin,
    "q_lexical_diversity" ->
      """WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS word FROM documents),
        |wc AS (SELECT source, word, COUNT(*) AS c FROM w GROUP BY 1, 2),
        |a AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS n_types,
        |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |    CAST(SUM(c * c) AS BIGINT) AS sum_c2
        |  FROM wc GROUP BY 1)
        |SELECT source, n_tokens, n_types, n_hapax,
        |  round(CAST(n_types AS DOUBLE) / n_tokens, 6) AS ttr,
        |  round(CAST(n_hapax AS DOUBLE) / n_types, 6) AS hapax_frac,
        |  round(10000.0 * (sum_c2 - n_tokens) / (CAST(n_tokens AS DOUBLE) * n_tokens), 6) AS yule_k
        |FROM a""".stripMargin,
    "q_active_learning" ->
      s"""$nbChainSql
         |SELECT a.doc_id, a.lang, a.c AS pred_lang,
         |  round(a.score_r - b.score_r, 6) AS margin
         |FROM rk a JOIN rk b ON a.doc_id = b.doc_id AND b.rn = 2
         |WHERE a.rn = 1
         |ORDER BY margin, a.doc_id LIMIT 20""".stripMargin,
    "q_feature_hash" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        |wc AS (SELECT word, COUNT(*) AS n_tok FROM w GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS v, CAST(SUM(n_tok) AS BIGINT) AS t FROM wc),
        |bk AS (
        |  SELECT CAST(list_sum(list_transform(range(1, 5), hxi -> CAST(instr('0123456789abcdef', substring(substring(md5(word), 1, 4), CAST(hxi AS INT), 1)) - 1 AS BIGINT) * CAST(pow(16, 4 - hxi) AS BIGINT))) % 256 AS BIGINT) AS bucket,
        |    COUNT(*) AS n_types, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        |  FROM wc GROUP BY 1)
        |SELECT bucket, n_types, n_tokens,
        |  round(n_types * CAST(256 AS DOUBLE) / v, 6) AS load_ratio,
        |  round(n_tokens * CAST(256 AS DOUBLE) / t, 6) AS mass_ratio
        |FROM bk CROSS JOIN tot""".stripMargin,
    "q_negative_sampling" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        |wc AS (SELECT word, COUNT(*) AS c FROM w GROUP BY 1),
        |cm AS (SELECT c, COUNT(*) AS m FROM wc GROUP BY 1),
        |nz AS (
        |  SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(list_sort(list(list_value(CAST(c AS DOUBLE), m * pow(c, 0.75)))), pr -> list_extract(pr, 2))), (a, b) -> a + b) AS z,
        |    CAST(SUM(c * m) AS BIGINT) AS n_tok
        |  FROM cm)
        |SELECT word, c,
        |  round(CAST(c AS DOUBLE) / n_tok, 6) AS p_unigram,
        |  round(pow(c, 0.75) / z, 6) AS p_neg
        |FROM wc CROSS JOIN nz
        |ORDER BY c DESC, word LIMIT 30""".stripMargin,
    "q_kneser_ney" ->
      """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |bg AS (SELECT list_extract(ws, i) AS w1, list_extract(ws, i + 1) AS w2
        |  FROM w, LATERAL unnest(range(1, len(ws))) AS t(i)),
        |c AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
        |l AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1, COUNT(*) AS nf
        |  FROM c GROUP BY 1),
        |r AS (SELECT w2, COUNT(*) AS nb FROM c GROUP BY 1),
        |b AS (SELECT COUNT(*) AS btot FROM c)
        |SELECT c.w1, c.w2, c.c12, l.c1,
        |  round(CAST(c12 AS DOUBLE) / c1, 6) AS p_mle,
        |  round((c12 - 0.75) / c1 + (0.75 * nf / c1) * (CAST(nb AS DOUBLE) / btot), 6) AS p_kn
        |FROM c JOIN l USING (w1) JOIN r USING (w2) CROSS JOIN b
        |ORDER BY c12 DESC, w1, w2 LIMIT 30""".stripMargin,
    "q_naive_bayes" ->
      s"""$nbChainSql
         |SELECT doc_id, lang, c AS pred_lang, score_r AS logscore, c = lang AS correct
         |FROM rk WHERE rn = 1""".stripMargin,
    "q_text_readability" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS words
        |  FROM documents),
        |b AS (SELECT doc_id,
        |    CAST(len(words) AS BIGINT) AS n_words,
        |    CAST(greatest(len(regexp_extract_all(text, '[.!?]')), 1) AS BIGINT) AS n_sentences,
        |    CAST(list_sum(list_transform(words,
        |      w -> greatest(len(regexp_extract_all(w, '[aeiouy]+')), 1))) AS BIGINT) AS n_syllables
        |  FROM t)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  round(0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
        |    + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words) - 15.59, 4) AS fk_grade
        |FROM b""".stripMargin,
    "q_bpe_merges" -> bpeOracle,
    "q_bpe_encode" -> bpeEncodeOracle,
    "q_tokenizer_fertility" ->
      """WITH t AS (SELECT lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
        |    CAST(len(regexp_extract_all(text, '[a-z]{1,4}')) AS BIGINT) AS sub
        |  FROM documents),
        |bl AS (SELECT lang, COUNT(*) AS n_docs, CAST(SUM(w) AS BIGINT) AS n_words,
        |    CAST(SUM(sub) AS BIGINT) AS n_subtokens
        |  FROM t GROUP BY 1),
        |g AS (SELECT CAST(SUM(w) AS BIGINT) AS g_words,
        |    CAST(SUM(sub) AS BIGINT) AS g_subtokens FROM t)
        |SELECT lang, n_docs, n_words, n_subtokens,
        |  round(CAST(n_subtokens AS DOUBLE) / n_words, 6) AS fertility,
        |  round((CAST(n_subtokens AS DOUBLE) / n_words)
        |    / (CAST(g_subtokens AS DOUBLE) / g_words), 6) AS parity
        |FROM bl CROSS JOIN g""".stripMargin,
    "q_vocab_coverage" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        |wc AS (SELECT word, COUNT(*) AS freq FROM w GROUP BY 1),
        |tot AS (SELECT CAST(SUM(freq) AS BIGINT) AS n_tokens, COUNT(*) AS n_types FROM wc),
        |r AS (SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, word) AS rank FROM wc),
        |x AS (SELECT k, freq, rank
        |  FROM r, LATERAL unnest(list_value(1, 2, 5, 10, 20, 50, 100, 1000)) AS u(k) WHERE rank <= k)
        |SELECT CAST(k AS INTEGER) AS k, COUNT(*) AS n_in_vocab, tot.n_types, tot.n_tokens,
        |  CAST(SUM(freq) AS BIGINT) AS covered,
        |  round(CAST(CAST(SUM(freq) AS BIGINT) AS DOUBLE) / tot.n_tokens, 6) AS coverage
        |FROM x CROSS JOIN tot GROUP BY k, tot.n_types, tot.n_tokens""".stripMargin,
    "q_phrase_search" ->
      """WITH toks AS (
        |  SELECT doc_id, list_extract(string_split(text, ' '), t.pos) AS word, t.pos
        |  FROM documents, LATERAL unnest(range(1, len(string_split(text, ' ')) + 1)) AS t(pos))
        |SELECT 'table scan' AS phrase, a.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_occ, CAST(min(a.pos) AS BIGINT) AS first_pos
        |FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |WHERE a.word = 'table' AND b.word = 'scan'
        |GROUP BY a.doc_id
        |UNION ALL
        |SELECT 'hash join' AS phrase, a.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_occ, CAST(min(a.pos) AS BIGINT) AS first_pos
        |FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |WHERE a.word = 'hash' AND b.word = 'join'
        |GROUP BY a.doc_id""".stripMargin,
    "q_rrf_fusion" -> {
      val tfCols = bm25Terms.map(t =>
        s"CAST(len(list_filter(words, x -> x = '$t')) AS INTEGER) AS tf_$t").mkString(",\n    ")
      val dfCols = bm25Terms.map(t =>
        s"CAST(SUM(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$t").mkString(",\n    ")
      val score = bm25Terms.map(t =>
          s"ln((n_docs - df_$t + 0.5) / (df_$t + 0.5) + 1.0) * (tf_$t * 2.2) / " +
            s"(tf_$t + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))")
        .mkString("round(", " + ", ", 6)")
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
         |d AS (SELECT doc_id, CAST(len(words) AS INTEGER) AS dl,
         |    $tfCols
         |  FROM w),
         |st AS (SELECT COUNT(*) AS n_docs,
         |    CAST(SUM(CAST(dl AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avgdl FROM d),
         |fr AS (SELECT
         |    $dfCols
         |  FROM d),
         |bm AS (
         |  SELECT doc_id, $score AS score
         |  FROM d, st, fr),
         |bmtop AS (SELECT doc_id, score FROM bm WHERE score > 0
         |  ORDER BY score DESC, doc_id LIMIT 50),
         |bmr AS (SELECT doc_id,
         |    CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS r_sparse
         |  FROM bmtop),
         |e AS (SELECT vec_id, list_transform(embedding, tav -> CAST(tav AS DOUBLE)) AS ce FROM embeddings),
         |qv AS (SELECT ce AS qe FROM e WHERE vec_id = 0),
         |dn AS (
         |  SELECT vec_id AS doc_id,
         |    round(list_sum(list_transform(range(1, 65), i -> list_extract(qe, i) * list_extract(ce, i))) /
         |      (sqrt(list_sum(list_transform(range(1, 65), i -> list_extract(qe, i) * list_extract(qe, i)))) *
         |       sqrt(list_sum(list_transform(range(1, 65), i -> list_extract(ce, i) * list_extract(ce, i))))), 6) AS cos_r
         |  FROM e, qv WHERE vec_id <> 0),
         |dntop AS (SELECT doc_id, cos_r FROM dn ORDER BY cos_r DESC, doc_id LIMIT 50),
         |dnr AS (SELECT doc_id,
         |    CAST(ROW_NUMBER() OVER (ORDER BY cos_r DESC, doc_id) AS INTEGER) AS r_dense
         |  FROM dntop),
         |f AS (
         |  SELECT COALESCE(bmr.doc_id, dnr.doc_id) AS doc_id, r_sparse, r_dense
         |  FROM bmr FULL OUTER JOIN dnr ON bmr.doc_id = dnr.doc_id)
         |SELECT doc_id, r_sparse, r_dense,
         |  round(coalesce(CAST(1 AS DOUBLE) / (60 + r_sparse), 0) + coalesce(CAST(1 AS DOUBLE) / (60 + r_dense), 0), 6) AS rrf
         |FROM f ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin
    },
    "q_token_pmi" ->
      """WITH d AS (SELECT string_split(text, ' ') AS words FROM documents),
        |n AS (SELECT CAST(SUM(len(words)) AS BIGINT) AS n_tokens FROM d),
        |u AS (SELECT unnest(words) AS word FROM d),
        |uc AS (SELECT word, COUNT(*) AS c_word FROM u GROUP BY 1),
        |bg AS (
        |  SELECT unnest(list_transform(range(1, len(words)), i -> list_extract(words, i) || ' ' || list_extract(words, i + 1))) AS g
        |  FROM d WHERE len(words) >= 2),
        |bc AS (
        |  SELECT split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2, COUNT(*) AS c_pair
        |  FROM bg GROUP BY 1, 2 HAVING COUNT(*) >= 3),
        |j AS (
        |  SELECT w1, w2, c_pair, u1.c_word AS c_w1, u2.c_word AS c_w2
        |  FROM bc JOIN uc u1 ON bc.w1 = u1.word JOIN uc u2 ON bc.w2 = u2.word)
        |SELECT w1, w2, c_pair, c_w1, c_w2,
        |  round(ln(CAST(c_pair AS DOUBLE) * n_tokens / (CAST(c_w1 AS DOUBLE) * c_w2)), 6) AS pmi
        |FROM j, n
        |ORDER BY pmi DESC, w1, w2 LIMIT 30""".stripMargin,
    "q_vocab_encode" ->
      """WITH w0 AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |w AS (
        |  SELECT doc_id, CAST(t.i AS INTEGER) AS pos, list_extract(words, t.i + 1) AS word
        |  FROM w0, LATERAL unnest(range(0, len(words))) AS t(i)),
        |v AS (
        |  SELECT word,
        |    CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, word) AS INTEGER) AS token_id
        |  FROM w GROUP BY word)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |  MIN(token_id) AS top_rank_used,
        |  array_to_string(list_transform(list_sort(list(list_value(CAST(pos AS BIGINT), CAST(token_id AS BIGINT)))), pr -> CAST(list_extract(pr, 2) AS STRING)), ' ') AS token_ids
        |FROM w JOIN v USING (word)
        |GROUP BY doc_id""".stripMargin,
    "q_text_entropy" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |u AS (SELECT doc_id, words, len(words) AS n_words,
        |    list_sort(list_distinct(words)) AS uniq FROM w),
        |e AS (SELECT doc_id, n_words, len(uniq) AS n_distinct,
        |    list_reduce(
        |      list_prepend(CAST(0.0 AS DOUBLE),
        |        list_transform(uniq, u2 ->
        |          CAST(len(list_filter(words, x -> x = u2)) AS DOUBLE)
        |            * ln(len(list_filter(words, x -> x = u2))))),
        |      (a, x) -> a + x) AS clnc
        |  FROM u)
        |SELECT doc_id, CAST(n_words AS INTEGER) AS n_words,
        |  CAST(n_distinct AS INTEGER) AS n_distinct,
        |  round(ln(n_words) - clnc / n_words, 6) AS entropy,
        |  CASE WHEN n_distinct > 1
        |    THEN round(round(ln(n_words) - clnc / n_words, 6) / ln(n_distinct), 6)
        |    ELSE 0.0 END AS norm_entropy
        |FROM e""".stripMargin,
    "q_doc_chunks" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |c AS (SELECT doc_id, words, len(words) AS n_words,
        |  1 + divide((greatest(len(words) - 64, 0) + 47), 48) AS n_chunks FROM w),
        |x AS (SELECT doc_id, CAST(n_words AS INTEGER) AS n_words,
        |  CAST(i AS INTEGER) AS chunk_id,
        |  array_to_string(list_slice(words, i*48+1, i*48+64), ' ') AS chunk_text
        |  FROM c, LATERAL unnest(range(0, n_chunks)) AS t(i))
        |SELECT doc_id, n_words, chunk_id, chunk_text,
        |  CAST(len(string_split(chunk_text, ' ')) AS INTEGER) AS chunk_tokens
        |FROM x""".stripMargin,
    "q_pii_scrub" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 9 = 0
        |      THEN text || ' reach user' || CAST(doc_id AS STRING) || '@example.com or 555-123-4567 at 10.0.42.7'
        |      ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}'))
        |     + len(regexp_extract_all(text, '[0-9]{3}-[0-9]{3}-[0-9]{4}'))
        |     + len(regexp_extract_all(text, '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}')) AS INTEGER) AS n_redactions,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
        |    '[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}', '<IP>', 'g') AS clean_text
        |FROM t""".stripMargin,
    "q_cms_heavy_hitters" ->
      """WITH words AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        |tot AS (SELECT COUNT(*) AS n_tot FROM words),
        |cells AS (
        |  SELECT j, list_sum(list_transform(range(1, 8), hxi -> CAST(instr('0123456789abcdef', substring(substring(md5(term), CAST(j * 7 + 1 AS INTEGER), 7), CAST(hxi AS INT), 1)) - 1 AS BIGINT) * CAST(pow(16, 7 - hxi) AS BIGINT))) % 512 AS cell,
        |    COUNT(*) AS cnt
        |  FROM words, LATERAL unnest(range(0, 4)) AS t(j)
        |  GROUP BY 1, 2),
        |vocab AS (
        |  SELECT term, COUNT(*) AS exact_cnt FROM words GROUP BY 1),
        |probes AS (
        |  SELECT term, exact_cnt, j,
        |    list_sum(list_transform(range(1, 8), hxi -> CAST(instr('0123456789abcdef', substring(substring(md5(term), CAST(j * 7 + 1 AS INTEGER), 7), CAST(hxi AS INT), 1)) - 1 AS BIGINT) * CAST(pow(16, 7 - hxi) AS BIGINT))) % 512 AS cell
        |  FROM vocab, LATERAL unnest(range(0, 4)) AS t(j)),
        |est AS (
        |  SELECT term, exact_cnt, MIN(cnt) AS cms_est
        |  FROM probes JOIN cells USING (j, cell) GROUP BY 1, 2)
        |SELECT term, exact_cnt, cms_est, cms_est - exact_cnt AS overcount,
        |  cms_est >= exact_cnt AS never_under
        |FROM est, tot
        |WHERE cms_est >= greatest(divide(n_tot, 512), 1)
        |ORDER BY exact_cnt DESC, term LIMIT 20""".stripMargin,
    "q_decontaminate" -> decontaminateSql,
    // Bloom gate is a plan optimization, not a semantics change: the
    // exact confirm join makes the output identical to q_decontaminate.
    "q_decontaminate_bloom" -> decontaminateSql,
    "q_lm_perplexity" ->
      """WITH gr AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, length(text) - 1), i -> substring(text, CAST(i AS INTEGER), 3))) AS g
        |  FROM documents WHERE length(text) >= 3),
        |c AS (SELECT g, COUNT(*) AS c FROM gr GROUP BY 1),
        |t AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM c),
        |dm AS (SELECT doc_id, c, COUNT(*) AS m FROM gr JOIN c USING (g) GROUP BY 1, 2),
        |x AS (
        |  SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_grams,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(list_sort(list(list_value(CAST(c AS DOUBLE), m * ln(CAST(n_total AS DOUBLE) / c)))), pr -> list_extract(pr, 2))),
        |      (a, b) -> a + b) AS lsum
        |  FROM dm, t GROUP BY doc_id)
        |SELECT doc_id, n_grams, ROUND(lsum / n_grams, 6) AS xent,
        |  CAST(FLOOR(ROUND(lsum / n_grams, 6)) AS BIGINT) AS ppl_bucket,
        |  ROUND(lsum / n_grams, 6) < 8.0 AS quality_pass
        |FROM x""".stripMargin,
    "q_sparse_cosine" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY 1, 2),
        |rare AS (SELECT word FROM tf GROUP BY word HAVING COUNT(*) <= 50),
        |posts AS (SELECT t.doc_id, t.word, t.tf FROM tf t JOIN rare USING (word)),
        |norms AS (SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS nrm FROM posts GROUP BY 1),
        |num AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
        |  FROM posts a JOIN posts b ON a.word = b.word AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT a_id, b_id, dot,
        |  round(CAST(dot AS DOUBLE) / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE))), 6) AS cos_bow
        |FROM num JOIN norms na ON na.doc_id = a_id JOIN norms nb ON nb.doc_id = b_id
        |ORDER BY cos_bow DESC, a_id, b_id LIMIT 20""".stripMargin,
    "q_chi2_contingency" ->
      """WITH cells AS (
        |  SELECT lang, source, COUNT(*) AS n_obs FROM documents GROUP BY 1, 2),
        |rt AS (SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY 1),
        |ct AS (SELECT source, COUNT(*) AS n_src FROM documents GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS n_total FROM documents)
        |SELECT lang, source, n_obs, n_lang, n_src,
        |  round(CAST(n_lang * n_src AS DOUBLE) / n_total, 6) AS expected,
        |  round(CAST(n_obs * n_total - n_lang * n_src AS DOUBLE) * CAST(n_obs * n_total - n_lang * n_src AS DOUBLE) / (CAST(n_total AS DOUBLE) * n_lang * n_src), 6) AS contrib
        |FROM cells JOIN rt USING (lang) JOIN ct USING (source) CROSS JOIN tot""".stripMargin,
    "q_quality_classifier" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |f AS (SELECT doc_id, list_concat(words, CASE WHEN len(words) < 2 THEN list_value()
        |        ELSE list_transform(range(1, len(words)), i -> list_extract(words, i) || ' ' || list_extract(words, i+1)) END) AS fts
        |      FROM w),
        |sc AS (SELECT doc_id, len(fts) AS n_feat,
        |  CAST(list_sum(list_transform(fts, f ->
        |    (((list_sum(list_transform(range(1, 8), hxi -> CAST(instr('0123456789abcdef', substring(substring(md5(f), 1, 7), CAST(hxi AS INT), 1)) - 1 AS BIGINT) * CAST(pow(16, 7 - hxi) AS BIGINT))) % 1024) * 2654435761) % 1000003 - 500001))) AS BIGINT) AS w_sum
        |  FROM f)
        |SELECT doc_id, CAST(n_feat AS INTEGER) AS n_feat, w_sum,
        |  round(CAST(w_sum AS DOUBLE) / (1000003.0 * n_feat), 6) AS score,
        |  round(1.0 / (1.0 + exp(-(CAST(w_sum AS DOUBLE) / (1000003.0 * n_feat)))), 6) AS prob,
        |  (w_sum > 0) AS pass_quality
        |FROM sc""".stripMargin,
    "q_calibration" ->
      """WITH w AS (SELECT doc_id, n_chars, string_split(text, ' ') AS words FROM documents),
        |f AS (SELECT doc_id, n_chars, list_concat(words, CASE WHEN len(words) < 2 THEN list_value()
        |        ELSE list_transform(range(1, len(words)), i -> list_extract(words, i) || ' ' || list_extract(words, i+1)) END) AS fts
        |      FROM w),
        |sc AS (SELECT doc_id, n_chars, len(fts) AS n_feat,
        |  CAST(list_sum(list_transform(fts, f ->
        |    (((list_sum(list_transform(range(1, 8), hxi -> CAST(instr('0123456789abcdef', substring(substring(md5(f), 1, 7), CAST(hxi AS INT), 1)) - 1 AS BIGINT) * CAST(pow(16, 7 - hxi) AS BIGINT))) % 1024) * 2654435761) % 1000003 - 500001))) AS BIGINT) AS w_sum
        |  FROM f),
        |b AS (SELECT doc_id, n_chars,
        |    CAST(divide((w_sum * 1000000 - ((((w_sum * 1000000) % (1000003 * n_feat)) + (1000003 * n_feat)) % (1000003 * n_feat))), (1000003 * n_feat)) AS BIGINT) AS score_ppm,
        |    CAST(divide((w_sum * 20 - ((((w_sum * 20) % (1000003 * n_feat)) + (1000003 * n_feat)) % (1000003 * n_feat))), (1000003 * n_feat)) AS BIGINT) AS bin_id
        |  FROM sc),
        |g AS (SELECT bin_id, COUNT(*) AS n_docs,
        |    CAST(SUM(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |    CAST(SUM(score_ppm) AS BIGINT) AS sum_score_ppm
        |  FROM b GROUP BY 1)
        |SELECT bin_id, n_docs, n_pos, sum_score_ppm,
        |  CAST(divide((sum_score_ppm - (((sum_score_ppm % n_docs) + n_docs) % n_docs)), n_docs) AS BIGINT) AS mean_score_ppm,
        |  round(CAST(n_pos AS DOUBLE) / n_docs, 6) AS pos_rate
        |FROM g""".stripMargin,
    "q_mutual_info" ->
      """WITH cells AS (
        |  SELECT lang, source, COUNT(*) AS n_ls FROM documents GROUP BY 1, 2),
        |rl AS (SELECT lang, COUNT(*) AS n_l FROM documents GROUP BY 1),
        |rs AS (SELECT source, COUNT(*) AS n_s FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
        |cl AS (
        |  SELECT list_sort(list(list_value(c.lang, c.source, CAST(c.n_ls AS STRING),
        |      CAST(rl.n_l AS STRING), CAST(rs.n_s AS STRING)))) AS cs
        |  FROM cells c JOIN rl USING (lang) JOIN rs USING (source)),
        |ll AS (SELECT list_sort(list(list_value(lang, CAST(n_l AS STRING)))) AS ls FROM rl),
        |sl AS (SELECT list_sort(list(list_value(source, CAST(n_s AS STRING)))) AS ss FROM rs),
        |f AS (
        |  SELECT n_docs,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(cs, x ->
        |      (CAST(list_extract(x, 3) AS DOUBLE) / n_docs)
        |        * ln(CAST(list_extract(x, 3) AS DOUBLE) * n_docs
        |             / (CAST(list_extract(x, 4) AS DOUBLE) * CAST(list_extract(x, 5) AS DOUBLE))))),
        |      (a, b) -> a + b) AS mi_raw,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(ls, x ->
        |      -(CAST(list_extract(x, 2) AS DOUBLE) / n_docs) * ln(CAST(list_extract(x, 2) AS DOUBLE) / n_docs))),
        |      (a, b) -> a + b) AS hl_raw,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(ss, x ->
        |      -(CAST(list_extract(x, 2) AS DOUBLE) / n_docs) * ln(CAST(list_extract(x, 2) AS DOUBLE) / n_docs))),
        |      (a, b) -> a + b) AS hs_raw
        |  FROM cl CROSS JOIN ll CROSS JOIN sl CROSS JOIN tot)
        |SELECT n_docs, round(mi_raw, 6) AS mi_nats,
        |  round(hl_raw, 6) AS h_lang, round(hs_raw, 6) AS h_source,
        |  CASE WHEN hl_raw > 0 AND hs_raw > 0
        |    THEN round(mi_raw / sqrt(hl_raw * hs_raw), 6) END AS nmi
        |FROM f""".stripMargin,
    "q_gopher_quality" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |base AS (
        |  SELECT doc_id, len(words) AS n_words,
        |    CAST(list_sum(list_transform(words, x -> length(x))) AS DOUBLE) / len(words) AS mean_word_len
        |  FROM w),
        |g2 AS (
        |  SELECT doc_id, unnest(CASE WHEN len(words) < 2 THEN list_value()
        |    ELSE list_transform(range(1, len(words)), i -> list_extract(words, i) || ' ' || list_extract(words, i+1)) END) AS g
        |  FROM w),
        |gc AS (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY 1, 2),
        |rep AS (SELECT doc_id, MAX(c) AS max2, SUM(c) AS tot2 FROM gc GROUP BY 1)
        |SELECT b.doc_id, CAST(b.n_words AS INTEGER) AS n_words, b.mean_word_len,
        |  CAST(max2 AS DOUBLE) / tot2 AS top_2gram_ratio,
        |  (b.mean_word_len >= 3 AND b.mean_word_len <= 10) AS pass_word_len,
        |  (CAST(max2 AS DOUBLE) / tot2 <= 0.2) AS pass_repetition,
        |  (b.n_words >= 20) AS pass_size,
        |  ((b.mean_word_len >= 3 AND b.mean_word_len <= 10)
        |    AND (CAST(max2 AS DOUBLE) / tot2 <= 0.2) AND (b.n_words >= 20)) AS pass_all
        |FROM base b JOIN rep USING (doc_id)""".stripMargin,
    "q_tfidf_top_terms" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY 1, 2),
        |dfreq AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
        |sc AS (
        |  SELECT doc_id, word, tf, df, round(tf * ln(n_docs / (1.0 * df)), 6) AS tfidf
        |  FROM tf JOIN dfreq USING (word), nd),
        |r AS (
        |  SELECT doc_id, word, tf, df, tfidf,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS INTEGER) AS rank
        |  FROM sc)
        |SELECT doc_id, rank, word, tf, df, tfidf FROM r WHERE rank <= 3""".stripMargin,
    "q_text_bm25" -> {
      val tfCols = bm25Terms.map(t =>
        s"CAST(len(list_filter(words, x -> x = '$t')) AS INTEGER) AS tf_$t").mkString(",\n    ")
      val dfCols = bm25Terms.map(t =>
        s"CAST(SUM(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$t").mkString(",\n    ")
      val score = bm25Terms.map(t =>
          s"ln((n_docs - df_$t + 0.5) / (df_$t + 0.5) + 1.0) * (tf_$t * 2.2) / " +
            s"(tf_$t + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))")
        .mkString("round(", " + ", ", 6)")
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
         |d AS (SELECT doc_id, CAST(len(words) AS INTEGER) AS dl,
         |    $tfCols
         |  FROM w),
         |st AS (SELECT COUNT(*) AS n_docs,
         |    CAST(SUM(CAST(dl AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avgdl FROM d),
         |fr AS (SELECT
         |    $dfCols
         |  FROM d),
         |scored AS (
         |  SELECT doc_id, ${bm25Terms.map(t => s"tf_$t").mkString(", ")},
         |    $score AS score
         |  FROM d, st, fr)
         |SELECT doc_id, ${bm25Terms.map(t => s"tf_$t").mkString(", ")}, score
         |FROM scored WHERE score > 0
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
    },
    "q_rolling_fingerprint" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(list_reduce(
        |      list_prepend(CAST(0 AS HUGEINT),
        |        list_transform(range(1, length(text) + 1),
        |          i -> CAST(ascii(substring(text, i, 1)) AS HUGEINT))),
        |      (acc, b) -> (acc * 257 + b) % 2305843009213693951) AS BIGINT) AS fp_rolling
        |  FROM documents)
        |SELECT doc_id, fp_rolling, fp_rolling % 1024 AS shard FROM f""".stripMargin,
    "q_langid_ngram" ->
      s"""WITH b AS (SELECT doc_id, lang,
         |    list_transform(range(1, length(text)), i -> substring(text, i, 2)) AS bigrams
         |  FROM documents),
         |sc AS (SELECT doc_id, lang, CAST(len(bigrams) AS INTEGER) AS n_bigrams,
         |    CAST(len(list_filter(bigrams, x -> x IN ${inList(bgEn)})) AS INTEGER) AS s_en,
         |    CAST(len(list_filter(bigrams, x -> x IN ${inList(bgEs)})) AS INTEGER) AS s_es,
         |    CAST(len(list_filter(bigrams, x -> x IN ${inList(bgDe)})) AS INTEGER) AS s_de,
         |    CAST(len(list_filter(bigrams, x -> x IN ${inList(bgFr)})) AS INTEGER) AS s_fr
         |  FROM b)
         |SELECT doc_id, lang, n_bigrams, s_en, s_es, s_de, s_fr,
         |  CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en > 0 THEN 'en'
         |       WHEN s_es >= s_de AND s_es >= s_fr AND s_es > 0 THEN 'es'
         |       WHEN s_de >= s_fr AND s_de > 0 THEN 'de'
         |       WHEN s_fr > 0 THEN 'fr'
         |       ELSE 'unknown' END AS pred_lang_ngram,
         |  CAST(s_en AS DOUBLE) / n_bigrams AS hit_rate
         |FROM sc""".stripMargin,
    "q_text_stats" ->
      s"""WITH w AS (SELECT doc_id, n_chars, text, string_split(text, ' ') AS words FROM documents),
         |c AS (SELECT doc_id, n_chars, text,
         |    CAST(len(words) AS INTEGER) AS n_words,
         |    CAST(len(list_distinct(words)) AS INTEGER) AS n_distinct_words,
         |    CAST(list_sum(list_transform(words, x -> length(x))) AS INTEGER) AS sum_word_len,
         |    CAST(len(list_filter(words, x -> x IN ${inList(stopEn)})) AS INTEGER) AS n_stopwords
         |  FROM w)
         |SELECT doc_id, n_words, n_distinct_words,
         |  CAST(sum_word_len AS DOUBLE) / n_words AS avg_word_len,
         |  CAST(n_stopwords AS DOUBLE) / n_words AS stopword_ratio,
         |  CAST(n_distinct_words AS DOUBLE) / n_words AS distinct_ratio,
         |  (CAST(n_distinct_words AS DOUBLE) / n_words) *
         |    (1.0 - CAST(n_stopwords AS DOUBLE) / n_words) AS quality_score,
         |  (n_chars = length(text)) AS n_chars_consistent
         |FROM c""".stripMargin,
    "q_text_langid" -> langidBaseSql,
    "q_heaps_law" ->
      """WITH nd AS (SELECT COUNT(*) AS n FROM documents),
        |w0 AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |w AS (SELECT doc_id, list_transform(range(1, len(words) - 1),
        |    i -> list_extract(words, i) || ' ' || list_extract(words, i+1) || ' ' || list_extract(words, i+2)) AS grams FROM w0),
        |tok AS (SELECT doc_id, u.g AS g FROM w, LATERAL unnest(grams) AS u(g)),
        |fdw AS (SELECT g, MIN(doc_id) AS fd FROM tok GROUP BY 1),
        |vk AS (SELECT CAST(divide(fd * 10, n) AS INTEGER) + 1 AS k, COUNT(*) AS nt
        |  FROM fdw CROSS JOIN nd GROUP BY 1),
        |nk AS (SELECT CAST(divide(doc_id * 10, n) AS INTEGER) + 1 AS k,
        |    CAST(SUM(len(grams)) AS BIGINT) AS nn
        |  FROM w CROSS JOIN nd GROUP BY 1),
        |g AS (SELECT CAST(r.k AS INTEGER) AS k FROM unnest(range(1, 11)) AS r(k)),
        |byk AS (SELECT g.k, COALESCE(nt, 0) AS nt, COALESCE(nn, 0) AS nn
        |  FROM g LEFT JOIN vk USING (k) LEFT JOIN nk USING (k)),
        |cum AS (SELECT k,
        |    CAST(SUM(nn) OVER (ORDER BY k) AS BIGINT) AS n_tokens,
        |    CAST(SUM(nt) OVER (ORDER BY k) AS BIGINT) AS vocab FROM byk),
        |pts AS (SELECT k, n_tokens, vocab,
        |    round(ln(CAST(n_tokens AS DOUBLE)), 6) AS x,
        |    round(ln(CAST(vocab AS DOUBLE)), 6) AS y FROM cum),
        |f AS (SELECT COUNT(*) AS nf,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(list_sort(list(list_value(CAST(k AS DOUBLE), x))), pr -> list_extract(pr, 2))), (a, b) -> a + b) AS sm_x,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(list_sort(list(list_value(CAST(k AS DOUBLE), y))), pr -> list_extract(pr, 2))), (a, b) -> a + b) AS sm_y,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(list_sort(list(list_value(CAST(k AS DOUBLE), x * x))), pr -> list_extract(pr, 2))), (a, b) -> a + b) AS sm_xx,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(list_sort(list(list_value(CAST(k AS DOUBLE), x * y))), pr -> list_extract(pr, 2))), (a, b) -> a + b) AS sm_xy
        |  FROM pts),
        |fit AS (SELECT
        |    round((nf * sm_xy - sm_x * sm_y) / (nf * sm_xx - sm_x * sm_x), 6) + 0.0 AS heaps_beta,
        |    round((sm_y - (nf * sm_xy - sm_x * sm_y) / (nf * sm_xx - sm_x * sm_x) * sm_x) / nf, 6) + 0.0 AS heaps_lnk
        |  FROM f)
        |SELECT k, n_tokens, vocab, heaps_beta, heaps_lnk,
        |  CAST(round(exp(heaps_lnk + heaps_beta * x), 0) AS BIGINT) AS pred_vocab
        |FROM pts CROSS JOIN fit""".stripMargin,
    "q_token_js_drift" ->
      """WITH w AS (SELECT source, string_split(lower(text), ' ') AS words FROM documents),
        |tok AS (SELECT source,
        |    list_sum(list_transform(range(1, 7), hxi -> CAST(instr('0123456789abcdef', substring(substring(md5(u.w), 1, 6), CAST(hxi AS INT), 1)) - 1 AS BIGINT) * CAST(pow(16, 6 - hxi) AS BIGINT))) % 1024 AS b
        |  FROM w, LATERAL unnest(words) AS u(w)),
        |sc AS (SELECT source, b, COUNT(*) AS c_sb FROM tok GROUP BY 1, 2),
        |st AS (SELECT source, COUNT(*) AS t_s FROM tok GROUP BY 1),
        |cc AS (SELECT b, COUNT(*) AS c_b FROM tok GROUP BY 1),
        |ct AS (SELECT COUNT(*) AS t FROM tok),
        |grid AS (SELECT st.source, st.t_s, r.b
        |  FROM st CROSS JOIN unnest(range(0, 1024)) AS r(b)),
        |j AS (SELECT g.source, g.t_s, g.b,
        |    COALESCE(c_sb, 0) AS c_sb, COALESCE(c_b, 0) AS c_b, t
        |  FROM grid g LEFT JOIN sc ON sc.source = g.source AND sc.b = g.b
        |  LEFT JOIN cc ON cc.b = g.b CROSS JOIN ct),
        |x AS (SELECT source, t_s,
        |    CAST(floor((0.5 * p * ln(p / m) + 0.5 * q * ln(q / m)) * 1e12) AS BIGINT) AS cfp
        |  FROM (SELECT source, t_s,
        |      (c_sb + 1) / CAST(t_s + 1024 AS DOUBLE) AS p,
        |      (c_b + 1) / CAST(t + 1024 AS DOUBLE) AS q,
        |      ((c_sb + 1) / CAST(t_s + 1024 AS DOUBLE)
        |        + (c_b + 1) / CAST(t + 1024 AS DOUBLE)) / 2 AS m
        |    FROM j))
        |SELECT source, CAST(t_s AS BIGINT) AS n_tokens,
        |  CAST(SUM(cfp) AS BIGINT) AS js_fp,
        |  round(CAST(SUM(cfp) AS DOUBLE) / 1e12, 6) AS js
        |FROM x GROUP BY 1, 2""".stripMargin,
    "q_cohens_kappa" ->
      s"""WITH base AS ($langidBaseSql),
         |rm AS (SELECT lang AS k, COUNT(*) AS nr FROM base GROUP BY 1),
         |cm AS (SELECT pred_lang AS k, COUNT(*) AS nc FROM base GROUP BY 1),
         |pe AS (SELECT COALESCE(CAST(SUM(nr * nc) AS BIGINT), 0) AS pe_num
         |  FROM rm JOIN cm USING (k)),
         |a AS (SELECT COUNT(*) AS n,
         |    CAST(SUM(CAST(lang = pred_lang AS INT)) AS BIGINT) AS agree FROM base)
         |SELECT n AS n_docs, agree AS n_agree,
         |  round(CAST(agree AS DOUBLE) / n, 6) AS po,
         |  round(CAST(pe_num AS DOUBLE) / (CAST(n AS BIGINT) * n), 6) AS pe,
         |  round(CAST(agree * n - pe_num AS DOUBLE)
         |    / CAST(CAST(n AS BIGINT) * n - pe_num AS DOUBLE), 6) AS kappa
         |FROM a CROSS JOIN pe""".stripMargin,
    "q_hill_tail" ->
      """WITH w0 AS (SELECT string_split(lower(text), ' ') AS words FROM documents),
        |g AS (SELECT unnest(list_transform(range(1, len(words) - 1),
        |    i -> list_extract(words, i) || ' ' || list_extract(words, i+1) || ' ' || list_extract(words, i+2))) AS tok FROM w0),
        |f AS (SELECT tok, COUNT(*) AS f FROM g
        |  GROUP BY 1 ORDER BY f DESC, tok LIMIT 65),
        |r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY f DESC, tok) AS rk FROM f),
        |ref AS (SELECT CAST(f AS BIGINT) AS f_ref FROM r WHERE rk = 65),
        |a AS (SELECT COUNT(*) AS k, MAX(f_ref) AS f_ref,
        |    list_transform(list_sort(list(list_value(CAST(rk AS DOUBLE), ln(CAST(f AS DOUBLE) / f_ref)))), pr -> list_extract(pr, 2)) AS xs
        |  FROM r CROSS JOIN ref WHERE rk <= 64),
        |sm AS (SELECT *, list_reduce(list_prepend(CAST(0.0 AS DOUBLE), xs),
        |    (a2, e) -> a2 + e) AS sum_ln FROM a)
        |SELECT k, f_ref AS f_kplus1, round(sum_ln, 6) AS sum_ln,
        |  round(k / sum_ln, 6) AS hill_alpha,
        |  round(1.0 + k / sum_ln, 6) AS zipf_exponent
        |FROM sm""".stripMargin,
    "q_langid_confusion" ->
      s"""WITH base AS ($langidBaseSql),
         |tot AS (SELECT lang, COUNT(*) AS n_lang FROM base GROUP BY 1)
         |SELECT b.lang, b.pred_lang, COUNT(*) AS n, n_lang,
         |  round(CAST(COUNT(*) AS DOUBLE) / n_lang, 6) AS rate
         |FROM base b JOIN tot USING (lang)
         |GROUP BY b.lang, b.pred_lang, n_lang""".stripMargin,
    "q_token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS re_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]{1,4}')) AS INTEGER) AS bpe_ish_tokens,
        |  CAST(length(text) AS INTEGER) AS n_chars_text,
        |  CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')) AS chars_per_token
        |FROM documents""".stripMargin,
    "q_doc_fingerprint" ->
      """WITH n AS (SELECT doc_id, regexp_replace(lower(text), ' +', ' ', 'g') AS norm FROM documents),
        |w AS (SELECT doc_id, norm, string_split(norm, ' ') AS words FROM n)
        |SELECT doc_id, md5(norm) AS fp_md5, substring(md5(norm), 1, 8) AS fp_bucket,
        |  CAST(list_sum(list_transform(range(1, len(words) + 1), i -> i * length(list_extract(words, i)))) AS INTEGER)
        |    AS weighted_checksum
        |FROM w""".stripMargin)
}
