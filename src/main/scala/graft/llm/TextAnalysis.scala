package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Text-analysis operators over the documents table: token statistics,
  * lexicon-based language ID, composite quality scoring, fingerprinting.
  * Pure expression compositions — every scoring formula has an exact DuckDB
  * twin in [[graft.llm.LlmQueries]].
  */
object TextAnalysis {

  /** Tiny stopword lexicons for the language-ID heuristic. Deliberately
    * minimal — the mechanism (lexicon-hit scoring + deterministic argmax) is
    * the operator; production would swap in real per-language profiles.
    */
  val Lexicons: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is"),
    "es" -> Seq("el", "la", "los", "de", "y", "en", "es"),
    "de" -> Seq("der", "die", "das", "und", "von", "zu", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "de", "en", "est"))

  def tokenStats(documents: DataFrame): DataFrame = {
    val t = TextFns.tokens(col("text"))
    documents.select(
      col("doc_id"),
      length(col("text")).as("n_chars"),
      size(t).as("n_tokens"),
      size(array_distinct(t)).as("n_distinct_tokens"),
      // 0L seed: an Int seed silently wraps past 2^31 total chars in
      // non-ANSI Spark while the oracle's INT cast errors — the ADVICE r10
      // gopherRules finding, applied here too (long is exact to 2^63)
      aggregate(t, lit(0L), (acc, x) => acc + length(x)).as("sum_token_len"))
      .withColumn("avg_token_len",
        col("sum_token_len").cast("double") / col("n_tokens").cast("double"))
      .withColumn("type_token_ratio",
        col("n_distinct_tokens").cast("double") / col("n_tokens").cast("double"))
  }

  /** Lexicon-hit counts per language + deterministic argmax prediction. */
  def langId(documents: DataFrame): DataFrame = {
    val t = TextFns.tokens(col("text"))
    val scored = documents.select(
      (col("doc_id") +: Lexicons.map { case (lang, words) =>
        size(filter(t, x => x.isin(words.map(lit): _*).cast("boolean"))).as(s"${lang}_hits")
      }): _*)
    val Seq(en, es, de, fr) = Lexicons.map(l => col(s"${l._1}_hits"))
    scored.withColumn("predicted_lang",
      when(en >= es && en >= de && en >= fr, "en")
        .when(es >= de && es >= fr, "es")
        .when(de >= fr, "de")
        .otherwise("fr"))
  }

  /** Tokenizer FERTILITY per language (x49) — the mixture-design metric a
    * multilingual tokenizer is judged by: BPE symbols per whitespace word
    * and bytes per BPE symbol, rolled up by the corpus's language tag
    * (`langCol` — crawl metadata in production; [[langId]] supplies a
    * prediction where none exists). High fertility on a language means
    * its text costs more sequence positions per unit of content — the
    * signal that drives per-language vocab allocation and sampling
    * temperature. Plan shape: the word explode joins the broadcast vocab
    * (k·|vocab| rows, never corpus-sized), the language tag rides the
    * doc_id equi-join, and everything collapses to one |langs|-keyed
    * map-side-combined rollup; the two ratios are single double divisions
    * of exact integer sums. Untrained words fall back to character
    * symbols — the same rule as [[Bpe.tokenCounts]] (vacuous on the
    * training corpus itself, where the vocab covers every word).
    */
  def tokenizerFertility(documents: DataFrame, model: Bpe.Model,
                         langCol: String = "lang"): DataFrame = {
    val lang = documents.select(col("doc_id"), col(langCol).as("lang"))
    val words = documents.select(col("doc_id"),
        explode(TextFns.tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
    val perWord = words
      .join(broadcast(model.vocab.select(col("word"), col("syms"))), Seq("word"), "left")
      .select(col("doc_id"),
        size(coalesce(col("syms"), split(col("word"), ""))).cast("long").as("n_syms"),
        octet_length(col("word")).cast("long").as("n_bytes"))
    perWord.join(lang, Seq("doc_id"))
      .groupBy("lang")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_words"),
        sum(col("n_syms")).as("n_symbols"),
        sum(col("n_bytes")).as("n_bytes"))
      .select(col("lang"), col("n_docs"), col("n_words"),
        col("n_symbols"), col("n_bytes"),
        (col("n_symbols").cast("double") / col("n_words").cast("double"))
          .as("fertility"),
        (col("n_bytes").cast("double") / col("n_symbols").cast("double"))
          .as("bytes_per_symbol"))
  }

  /** The [[langId]] argmax as a standalone Column over a text column —
    * row-local (no join), for operators that need the language tag inline
    * (e.g. [[Sampling.temperatureMix]]'s per-language grouping).
    */
  def predictedLang(text: Column): Column = {
    val t = TextFns.tokens(text)
    def hits(words: Seq[String]): Column =
      size(filter(t, x => x.isin(words.map(lit): _*).cast("boolean")))
    val Seq(en, es, de, fr) = Lexicons.map(l => hits(l._2))
    when(en >= es && en >= de && en >= fr, "en")
      .when(es >= de && es >= fr, "es")
      .when(de >= fr, "de")
      .otherwise("fr")
  }

  /** Per-document unigram-LM surprisal — the perplexity-style quality
    * signal (CCNet / KenLM filtering, Wenzek et al. 2020, with the corpus
    * itself as the model): each document scores the average per-token
    * negative log-probability Σ c_w·ln(N/n_w) / n_tokens under the corpus
    * unigram distribution. Low surprisal = common boilerplate-like text,
    * high = rare/garbled text; curation cuts both tails.
    *
    * Determinism: ln() is the one non-rational op, so it is computed ONCE
    * per vocabulary entry from bit-identical integer-ratio inputs (double
    * division is correctly rounded in both engines) and immediately
    * quantized to DECIMAL(18,8); from there every step — decimal·count
    * products, decimal sums, the final division — is exact or correctly
    * rounded, making the per-doc score independent of row order and
    * partitioning. A last-ulp engine difference in ln itself would have to
    * land within one ulp of a 0.5e-8 rounding boundary to flip the
    * quantized value (≈1e-7 probability across a whole vocabulary).
    *
    * Scale shape: per-doc token counts are ONE map-side-combined shuffle of
    * (doc_id, token) pairs; the vocabulary rollup and its 1-row total are
    * aggregates of that already-small frame (the identical docTok subtrees
    * share one exchange via reuse); the score join hits a vocabulary-sized
    * LUT (AQE broadcasts it when it fits — at 100 TB vocabulary a
    * sort-merge on the token key is right); re-aggregation rides doc_id.
    * Raw text never shuffles.
    */
  def unigramSurprisal(documents: DataFrame): DataFrame = {
    val docTok = documents
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
    // the fused self-scoring form derives the model from the SAME docTok
    // subtree (one exchange, reused); the model-as-input form below serves
    // incrementally maintained counts instead
    scoreAgainstUnigramModel(docTok, docTok.groupBy("tok").agg(sum("c").as("n_w")))
  }

  /** The (tok, n_w) vocabulary histogram a corpus (or one BATCH)
    * contributes to the unigram LM — the additive unit
    * [[graft.operators.CountStore]] persists for incremental model
    * maintenance; vocabulary-keyed (unbounded, unlike the DSIR buckets),
    * which the store handles identically since versions stay
    * key-cardinality-sized. x28 pins model-from-appended-counts ≡
    * from-scratch against x16's verbatim oracle.
    */
  def unigramCounts(docs: DataFrame): DataFrame =
    docs.select(explode(TextFns.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n_w"))

  /** Score `documents` against an externally supplied unigram model (a
    * (tok, n_w) frame — e.g. a [[graft.operators.CountStore]] read).
    * Identical math to [[unigramSurprisal]]; only the model's provenance
    * differs. OOV contract: tokens absent from the model drop out of both
    * the count and the sum (inner LUT join) — a model covering the scored
    * corpus (x28's shape) scores every token; for true cross-corpus
    * scoring with backoff semantics use [[stupidBackoffScore]].
    */
  def unigramSurprisalWith(documents: DataFrame, freq: DataFrame): DataFrame =
    scoreAgainstUnigramModel(
      documents
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c")),
      freq)

  /** The shared scorer. The model is filtered to non-null tokens once, up
    * front, and both the LUT and its 1-row total read that one frame: the
    * score join would otherwise infer `tok IS NOT NULL` into the LUT
    * branch alone, the two branches' model exchanges would differ, and a
    * stored model (x28's CountStore) would be scanned twice. Identical
    * branches share one exchange by reuse, so the model is read once. A
    * null token never matches a document token, so the filter changes no
    * score on a model built from tokens.
    */
  private def scoreAgainstUnigramModel(docTok: DataFrame,
                                       freq: DataFrame): DataFrame = {
    val model = freq.filter(col("tok").isNotNull)
    val totals = model.agg(sum("n_w").as("n_total"))
    val lut = model.crossJoin(broadcast(totals))
      .select(col("tok"),
        log(col("n_total").cast("double") / col("n_w").cast("double"))
          .cast(DecimalType(18, 8)).as("lnv"))
    docTok.join(lut, Seq("tok"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"),
        // c narrowed to DECIMAL(12,0): a long operand infers DECIMAL(20,0)
        // and the product's precision 18+20+1 > 38 silently DROPS the scale
        // to 7 (Spark's overflow rule), while DuckDB keeps 8 — the narrowed
        // precision (12+18+1 = 31) preserves the exact scale-8 product
        sum(col("c").cast(DecimalType(12, 0)) * col("lnv")).as("sdec"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("sdec").cast("double") / col("n_tokens").cast("double"), 4)
          .as("surprisal"))
  }

  /** DoReMi-style domain reweighting (Xie et al. 2023, "DoReMi: Optimizing
    * Data Mixtures Speeds Up Language Model Pretraining") — ONE
    * multiplicative-weights round of the algorithm's update rule with the
    * corpus unigram LM standing in for the proxy model: domains whose
    * text the reference model finds HARDER than average (excess loss
    * L_s − L̄ > 0) get up-weighted from the token-share baseline,
    *
    *   w_s ∝ n_tokens_s · exp(η · (L_s − L̄)),   normalized to Σ w = 1
    *
    * where L_s is the domain's mean token surprisal under the corpus LM
    * (the full DoReMi loop re-trains the proxy between rounds; the
    * update arithmetic — the part an engine owns — is identical every
    * round). η = 0.1 keeps exp in single-digit range (DECIMAL(18,12)
    * quantization headroom documents the bound).
    *
    * Determinism: per-domain loss numerators are exact decimal sums of
    * the x16 LUT products; L_s, L̄ are single double divisions; exp is
    * computed once per DOMAIN (|domains| rows) and quantized to
    * DECIMAL(18,12), so the unnormalized weights and their total are
    * exact decimals — the normalization is one double division per
    * domain. Scale shape: everything beyond the x16 (doc_id, token)
    * shuffle is |docs|- then |domains|-keyed; raw text never shuffles.
    */
  def doremiMixtureWeights(documents: DataFrame, eta: Double = 0.1): DataFrame = {
    val docTok = documents
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
    val freq = docTok.groupBy("tok").agg(sum("c").as("n_w"))
    val totals = freq.agg(sum("n_w").as("n_total"))
    val lut = freq.crossJoin(broadcast(totals))
      .select(col("tok"),
        log(col("n_total").cast("double") / col("n_w").cast("double"))
          .cast(DecimalType(18, 8)).as("lnv"))
    val perDoc = docTok.join(lut, Seq("tok"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"),
        sum(col("c").cast(DecimalType(12, 0)) * col("lnv")).as("sdec"))
    val perSrc = perDoc
      .join(documents.select("doc_id", "source"), Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
        sum("sdec").as("sdec"))
    val glob = perSrc.agg(sum("n_tokens").as("g_tokens"), sum("sdec").as("g_sdec"))
    val scored = perSrc.crossJoin(broadcast(glob))
      .withColumn("l_s", col("sdec").cast("double") / col("n_tokens").cast("double"))
      .withColumn("l_bar",
        col("g_sdec").cast("double") / col("g_tokens").cast("double"))
      .withColumn("boost",
        exp(lit(eta) * (col("l_s") - col("l_bar"))).cast(DecimalType(18, 12)))
      .withColumn("unnorm", col("n_tokens").cast(DecimalType(18, 0)) * col("boost"))
    val z = scored.agg(sum("unnorm").as("z"))
    scored.crossJoin(broadcast(z))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("l_s"), 4).as("mean_surprisal"),
        round(col("unnorm").cast("double") / col("z").cast("double"), 6).as("weight"))
      .orderBy("source")
  }

  /** Moore–Lewis cross-entropy-difference data selection (Moore & Lewis
    * 2010, "Intelligent Selection of Language Model Training Data"): score
    * every document by H_in(doc) − H_gen(doc), the difference between its
    * cross-entropy under an IN-DOMAIN unigram LM (trained on the subset
    * selected by `inDomainPred`) and under the GENERAL corpus LM. Lower =
    * reads more like the target domain *specifically* (the general-LM term
    * cancels the "this is just common fluent text" component that makes raw
    * in-domain perplexity pick generic documents). The standard cheap
    * domain-selection pass of large-scale pipelines (the same shape CCNet
    * uses with a Wikipedia LM).
    *
    * Both models are add-one smoothed over the GENERAL vocabulary V:
    * p(w) = (c(w)+1)/(N+|V|) — the in-domain model must assign mass to
    * general-corpus tokens it never saw, and smoothing both keeps the two
    * cross-entropies on the same support, so the difference is well-defined
    * for every document. Tokens outside the general vocabulary cannot occur
    * (the scored corpus IS the general corpus; for external scoring, feed
    * the union).
    *
    * Determinism: the x16 treatment — each −ln is computed once per
    * distinct token from bit-identical double ratios and quantized to
    * DECIMAL(18,8); the per-token difference lnv_in − lnv_gen is exact
    * DECIMAL(19,8); doc counts narrow to DECIMAL(12,0) so the product's
    * precision (12+19+1 = 32) keeps scale 8 under the 38-digit cap; the
    * per-doc accumulation is exact decimal (order-independent), one double
    * division at the end.
    *
    * Scale shape: one corpus tokenize→count shuffle feeds BOTH models (the
    * in-domain counts re-aggregate the per-doc frame, not the text); the
    * scoring join hits a vocabulary-sized LUT; scalar totals broadcast.
    * Raw text never shuffles.
    */
  def mooreLewisScore(documents: DataFrame, inDomainPred: Column): DataFrame = {
    val docTok = documents
      .select(col("doc_id"), inDomainPred.as("in_domain"),
        explode(TextFns.tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "in_domain", "tok").agg(count(lit(1)).as("c"))
    val gen = docTok.groupBy("tok").agg(sum("c").as("n_gen"))
    val ind = docTok.filter(col("in_domain"))
      .groupBy("tok").agg(sum("c").as("n_in"))
    val vocab = gen.join(ind, Seq("tok"), "left")
      .select(col("tok"), col("n_gen"), coalesce(col("n_in"), lit(0L)).as("n_in"))
    val totals = vocab.agg(
      sum("n_gen").as("n_gen_tot"), sum("n_in").as("n_in_tot"),
      count(lit(1)).as("v"))
    val lut = vocab.crossJoin(broadcast(totals))
      .select(col("tok"),
        (log((col("n_in_tot") + col("v")).cast("double") /
             (col("n_in") + lit(1L)).cast("double")).cast(DecimalType(18, 8)) -
         log((col("n_gen_tot") + col("v")).cast("double") /
             (col("n_gen") + lit(1L)).cast("double")).cast(DecimalType(18, 8)))
          .as("lnd"))
    docTok.join(lut, Seq("tok"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"),
        sum(col("c").cast(DecimalType(12, 0)) * col("lnd")).as("sdec"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("sdec").cast("double") / col("n_tokens").cast("double"), 4)
          .as("ml_score"))
  }

  /** Per-document BIGRAM-LM surprisal — the conditional-probability upgrade
    * of [[unigramSurprisal]] (KenLM-style n-gram scoring, n=2, with the
    * corpus itself as the model): each document scores the average
    * −ln p(w_i | w_{i−1}) = −ln( c(w_{i−1} w_i) / c(w_{i−1} ·) ) over its
    * bigram positions. Unlike the unigram score it penalizes improbable
    * TRANSITIONS, not just rare words — the signal that separates fluent
    * text from shuffled-word salad with identical unigram stats. Scoring
    * corpus docs against the own-corpus model means every doc bigram has
    * corpus count ≥ 1, so no backoff branch is needed.
    *
    * Determinism: the x16 treatment — ln() computed once per distinct
    * corpus bigram from bit-identical integer-ratio inputs and quantized to
    * DECIMAL(18,8); doc counts narrowed to DECIMAL(12,0) so the scale-8
    * product stays inside the 38-digit cap (see [[unigramSurprisal]]);
    * every aggregation is exact decimal, so scores are independent of row
    * order and partitioning.
    *
    * Scale shape: positional bigrams come from ONE codegen'd zip_with over
    * the token array (multiplicity preserved — distinct shingles would
    * under-count repeats); (doc_id, bigram) counts are one map-side-combined
    * shuffle, MATERIALIZED once (eager Materialize.cut — the zip_with
    * lambda's variables defeat exchange-canonicalization, so the three
    * consumers would otherwise re-scan and re-explode the corpus three
    * times; the checkpointed frame is the already-reduced count table, far
    * smaller than the text); the bigram and context rollups aggregate that
    * frame; the scoring join hits a vocabulary²-bounded LUT on the bigram
    * key. Raw text never shuffles.
    */
  def bigramSurprisal(documents: DataFrame): DataFrame = {
    val toks = TextFns.tokens(col("text"))
    val bigrams = zip_with(
      slice(toks, lit(1), size(toks) - 1),
      slice(toks, lit(2), size(toks) - 1),
      (a, b) => concat_ws(" ", a, b))
    val docBg = graft.operators.Materialize.cut(documents
      .select(col("doc_id"), explode(bigrams).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("c")))
    val bgFreq = docBg.groupBy("bg").agg(sum("c").as("n_bg"))
    val ctxFreq = bgFreq
      .groupBy(split(col("bg"), " ").getItem(0).as("w1"))
      .agg(sum("n_bg").as("n_ctx"))
    val lut = bgFreq
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .join(ctxFreq, Seq("w1"))
      .select(col("bg"),
        log(col("n_ctx").cast("double") / col("n_bg").cast("double"))
          .cast(DecimalType(18, 8)).as("lnv"))
    docBg.join(lut, Seq("bg"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_bigrams"),
        sum(col("c").cast(DecimalType(12, 0)) * col("lnv")).as("sdec"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("sdec").cast("double") / col("n_bigrams").cast("double"), 4)
          .as("bg_surprisal"))
  }

  /** Collocation extraction by pointwise mutual information (Church &
    * Hanks 1990): for every corpus bigram (a, b) with at least `minCount`
    * occurrences,
    *
    *   PMI(a,b) = ln( p(ab) / (p(a)·p(b)) )
    *            = ln( (c_ab/N_bi) / ((c_a/N_uni)·(c_b/N_uni)) )
    *
    * — high when the pair co-occurs far above chance (fixed phrases,
    * named entities), the classic phrase-mining signal for tokenizer
    * vocabulary seeding and quality analysis.
    *
    * Determinism: the x16/x22 treatment — the log's argument is a fixed
    * tree of IEEE divisions/multiplications over exact integer counts
    * (bit-identical in any engine), ln is computed ONCE per surviving
    * bigram and quantized to DECIMAL(18,8).
    *
    * Scale shape: two map-side-combined count shuffles (positional bigrams
    * via codegen'd zip_with, unigrams via explode) — raw text never
    * shuffles; the minCount filter prunes the pair table BEFORE the
    * unigram joins; totals ride a broadcast 1-row scalar. The unigram
    * joins are vocabulary-keyed (AQE broadcasts when the vocabulary fits).
    */
  def pmiCollocations(documents: DataFrame, minCount: Long = 5): DataFrame = {
    val toks = TextFns.tokens(col("text"))
    val bigrams = zip_with(
      slice(toks, lit(1), size(toks) - 1),
      slice(toks, lit(2), size(toks) - 1),
      (a, b) => concat_ws(" ", a, b))
    val bgFreq = documents.select(explode(bigrams).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("n_pair"))
    val uniFreq = documents.select(explode(TextFns.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n_w"))
    val totals = bgFreq.agg(sum("n_pair").as("n_bi_total"))
      .crossJoin(uniFreq.agg(sum("n_w").as("n_uni_total")))
    val pairs = bgFreq.filter(col("n_pair") >= minCount)
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1))
      .join(uniFreq.select(col("tok").as("w1"), col("n_w").as("n_w1")), Seq("w1"))
      .join(uniFreq.select(col("tok").as("w2"), col("n_w").as("n_w2")), Seq("w2"))
      .crossJoin(broadcast(totals))
    val pAb = col("n_pair").cast("double") / col("n_bi_total").cast("double")
    val pA = col("n_w1").cast("double") / col("n_uni_total").cast("double")
    val pB = col("n_w2").cast("double") / col("n_uni_total").cast("double")
    pairs.select(col("w1"), col("w2"), col("n_pair"),
      log(pAb / (pA * pB)).cast(DecimalType(18, 8)).cast("double").as("pmi"))
  }

  /** CCNet-style quality bucketing (Wenzek et al. 2020 §4.3): per
    * LANGUAGE, documents split into head/middle/tail terciles of LM
    * surprisal — head = most-fluent third, the slice CCNet keeps for
    * pretraining; the grouping is per-language because surprisal scales
    * differ across languages. Uses the x16 unigram surprisal as the LM
    * score.
    *
    * Scale shape: the per-language rank rides the GROUPED PrefixSum
    * (range-partition by (lang, surprisal, doc_id) + driver offsets) —
    * a `ROW_NUMBER() OVER (PARTITION BY lang ...)` would funnel each
    * language through one task, and real corpora have a handful of huge
    * languages; the tercile arithmetic is a narrow map over the
    * language-keyed count join.
    */
  def ccnetBuckets(documents: DataFrame): DataFrame = {
    val scored = unigramSurprisal(documents)
      .join(documents.select("doc_id", "lang"), Seq("doc_id"))
      .withColumn("one", lit(1L))
    val ranked = graft.operators.PrefixSum.withGroupedRunningSum(
      scored, Seq("lang"), Seq("surprisal", "doc_id"), "one", "rnk")
    val n = scored.groupBy("lang").agg(count(lit(1)).as("n"))
    ranked.join(n, Seq("lang"))
      .select(col("doc_id"), col("lang"), col("surprisal"),
        expr("CASE ((rnk - 1) * 3) div n WHEN 0 THEN 'head' " +
          "WHEN 1 THEN 'middle' ELSE 'tail' END").as("bucket"))
  }

  /** Zipf-law fit of the corpus token distribution — the corpus-health
    * diagnostic (natural text follows freq ∝ rank^(−s) with s ≈ 1;
    * boilerplate-heavy or synthetic corpora deviate): least-squares slope
    * and intercept of ln(freq) on ln(rank) over the full vocabulary.
    *
    * Scale shape: ONE map-side-combined token-count shuffle; the global
    * frequency rank rides the PrefixSum machinery (range-partition by
    * (−freq, token), per-partition counts, driver offsets) because a
    * `ROW_NUMBER() OVER (ORDER BY ...)` would plan the single-task window
    * this engine bans; the regression is one exact-decimal aggregate of
    * the vocabulary frame.
    *
    * Determinism: ln(rank)/ln(freq) quantize to DECIMAL(18,8) per row (the
    * x16 treatment); their products are exact DECIMAL(37,16); all four
    * regression sums are exact decimal; the final slope/intercept are one
    * fixed IEEE expression over the sums.
    */
  def zipfFit(documents: DataFrame): DataFrame = {
    val freq = documents
      .select(explode(TextFns.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n_w"))
      .withColumn("g0", lit(0))
      .withColumn("negn", -col("n_w"))
      .withColumn("one", lit(1L))
    val ranked = graft.operators.PrefixSum.withGroupedRunningSum(
      freq, Seq("g0"), Seq("negn", "tok"), "one", "rnk")
    val pts = ranked.select(
      log(col("rnk").cast("double")).cast(DecimalType(18, 8)).as("x"),
      log(col("n_w").cast("double")).cast(DecimalType(18, 8)).as("y"))
    pts.agg(count(lit(1)).as("n_vocab"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .withColumn("slope",
        (col("n_vocab").cast("double") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double"))
          / (col("n_vocab").cast("double") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double")))
      .withColumn("intercept",
        (col("sy").cast("double") - col("slope") * col("sx").cast("double"))
          / col("n_vocab").cast("double"))
      .select(col("n_vocab"), col("slope"), col("intercept"))
  }

  /** CROSS-CORPUS bigram scoring with STUPID BACKOFF (Brants et al. 2007,
    * "Large Language Models in Machine Translation" §4 — the smoothing
    * designed FOR MapReduce-scale LMs; the CCNet recipe's shape, where a
    * REFERENCE corpus trains the model and the candidate corpus is scored
    * against it, unlike [[bigramSurprisal]]'s own-corpus scoring which
    * never meets an unseen bigram). Per scored-document positional bigram
    * (w1, w2):
    *
    *   S(w2|w1) = c(w1 w2)/c(w1 ·)      if the bigram is in the model,
    *            = α · c(w2)/N           else if w2 is in the model vocab,
    *            = α · 1/N               else (OOV floor — one count),
    *
    * with α = 1/invAlpha (default 0.4, the paper's constant; the API takes
    * the INVERSE so the default stays an exact binary double — 1/0.4
    * computed at runtime is not 2.5). Per-doc score = avg −ln S, the
    * cross-entropy against the reference model — CCNet's quality axis.
    *
    * Determinism: the x16/x22 treatment — every −ln is computed ONCE per
    * model entry (bigram LUT, vocabulary LUT, one OOV row) from identical
    * double expressions in both engines and quantized to DECIMAL(18,8);
    * scored counts narrow to DECIMAL(12,0); accumulation is exact decimal;
    * ONE final division + ROUND(4).
    *
    * Scale shape: the model's (bg, n_bg) count frame materializes once
    * ([[graft.operators.Materialize.cut]] — the zip_with lambda defeats
    * exchange reuse exactly as in x22) and every derived LUT is model-
    * vocabulary-bounded, so the scoring joins broadcast; the scored corpus
    * contributes one map-side-combined (doc_id, bg) shuffle and its raw
    * text never shuffles. Documents under 2 tokens have no bigrams and no
    * row, like [[bigramSurprisal]].
    */
  def stupidBackoffScore(scored: DataFrame, model: DataFrame,
                         invAlpha: Double = 2.5): DataFrame = {
    require(invAlpha > 1.0, s"invAlpha $invAlpha must be > 1 (alpha in (0,1))")
    val toks = TextFns.tokens(col("text"))
    val bigrams = zip_with(
      slice(toks, lit(1), size(toks) - 1),
      slice(toks, lit(2), size(toks) - 1),
      (a, b) => concat_ws(" ", a, b))
    def bigramRows(df: DataFrame) =
      df.select(col("doc_id"), explode(bigrams).as("bg"))
    // model side: one materialized count frame; everything below it is
    // vocabulary-bounded
    val bgFreq = graft.operators.Materialize.cut(
      bigramRows(model).groupBy("bg").agg(count(lit(1)).as("n_bg")))
    val ctxFreq = bgFreq
      .groupBy(split(col("bg"), " ").getItem(0).as("w1"))
      .agg(sum("n_bg").as("n_ctx"))
    val bgLut = bgFreq
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .join(ctxFreq, Seq("w1"))
      .select(col("bg"),
        log(col("n_ctx").cast("double") / col("n_bg").cast("double"))
          .cast(DecimalType(18, 8)).as("ln_bg"))
    val uni = model.select(explode(toks).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n_w"))
    val nTot = uni.agg(sum(col("n_w")).as("n_tok"))
    val uniLut = uni.crossJoin(broadcast(nTot))
      .select(col("w").as("w2"),
        log(lit(invAlpha) * col("n_tok").cast("double") / col("n_w").cast("double"))
          .cast(DecimalType(18, 8)).as("ln_uni"))
    val oov = nTot.select(
      log(lit(invAlpha) * col("n_tok").cast("double"))
        .cast(DecimalType(18, 8)).as("ln_oov"))
    // scored side: map-side-combined counts, then LUT joins + backoff
    val db = bigramRows(scored).groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
    db
      .join(bgLut, Seq("bg"), "left")
      .withColumn("w2", split(col("bg"), " ").getItem(1))
      .join(uniLut, Seq("w2"), "left")
      .crossJoin(broadcast(oov))
      .withColumn("lnv", coalesce(col("ln_bg"), col("ln_uni"), col("ln_oov")))
      .groupBy("doc_id")
      .agg(sum("c").as("n_bigrams"),
        sum(col("c").cast(DecimalType(12, 0)) * col("lnv")).as("sdec"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("sdec").cast("double") / col("n_bigrams").cast("double"), 4)
          .as("sb_surprisal"))
  }

  /** Interpolated KNESER-NEY bigram surprisal (Kneser & Ney 1995; the
    * smoothing KenLM ships and CCNet-style perplexity filters actually
    * run) — [[stupidBackoffScore]]'s principled sibling: instead of a
    * fixed backoff penalty, unseen-pair mass comes from the CONTINUATION
    * distribution (how many distinct contexts a word follows — "Francisco"
    * is frequent but follows only "San", so its continuation probability
    * is tiny; that distinction is why KN wins). With discount D = 3/4,
    *
    *   P(w|u) = (max(c(uw)−D, 0) + D·N1+(u·)·N1+(·w)/B) / c(u)
    *
    * which clears to the EXACT integer ratio
    * ((4·c(uw)−3)·B + 3·N1+(u·)·N1+(·w)) / (4·B·c(u)) for seen pairs and
    * 3·N1+(u·)·N1+(·w) / (4·B·c(u)) for unseen pairs under a seen
    * context (B = distinct training bigram types) — the model sums to
    * exactly 1 over the seen-continuation vocabulary per context
    * (spec-pinned). Scoring ladder: seen bigram → KN ratio; seen context
    * + seen continuation → backoff ratio; anything else → the fixed
    * ln(4·B) floor. Determinism is the x16/x24 treatment: every ln is
    * taken of a ratio of two exact BIGINTs (headroom note: the cleared
    * numerator is O(c·B) — at corpora where that approaches 2⁶³ the
    * products move to DECIMAL(38,0), same formulas), quantized to
    * DECIMAL(18,8), accumulated exactly, ONE final ROUND(4).
    *
    * Scale shape: model counts are vocabulary/bigram-bounded map-side-
    * combined aggregates off one training scan; the context and
    * continuation statistics ride the SAME bigram frame (no second corpus
    * scan); scoring is one (doc_id, bigram) shuffle plus LUT equi-joins —
    * raw text never shuffles.
    */
  def kneserNeyScore(scored: DataFrame, model: DataFrame): DataFrame = {
    val toks = TextFns.tokens(col("text"))
    val bigrams = zip_with(
      slice(toks, lit(1), size(toks) - 1),
      slice(toks, lit(2), size(toks) - 1),
      (a, b) => concat_ws(" ", a, b))
    def bigramRows(df: DataFrame) =
      df.select(col("doc_id"), explode(bigrams).as("bg"))
    val bgFreq = graft.operators.Materialize.cut(
      bigramRows(model).groupBy("bg").agg(count(lit(1)).as("n_bg"))
        .withColumn("w1", split(col("bg"), " ").getItem(0))
        .withColumn("w2", split(col("bg"), " ").getItem(1)))
    // one frame feeds all three statistics: totals + distinct-successor
    // counts per context, distinct-predecessor counts per continuation,
    // and the global bigram-type count
    val ctx = bgFreq.groupBy("w1")
      .agg(sum("n_bg").as("n_ctx"), count(lit(1)).as("n1p"))
    val cont = bgFreq.groupBy("w2").agg(count(lit(1)).as("n_cont"))
    val nB = bgFreq.agg(count(lit(1)).as("b"))
    val bgLut = bgFreq.join(ctx, Seq("w1")).join(cont, Seq("w2"))
      .crossJoin(broadcast(nB))
      .select(col("bg"),
        log((lit(4) * col("b") * col("n_ctx")).cast("double") /
          ((lit(4) * col("n_bg") - 3) * col("b") +
            lit(3) * col("n1p") * col("n_cont")).cast("double"))
          .cast(DecimalType(18, 8)).as("ln_kn"))
    val oov = nB.select(
      log((lit(4) * col("b")).cast("double"))
        .cast(DecimalType(18, 8)).as("ln_oov"))
    val db = bigramRows(scored).groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
    db
      .join(bgLut, Seq("bg"), "left")
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1))
      .join(ctx, Seq("w1"), "left")
      .join(cont, Seq("w2"), "left")
      .crossJoin(broadcast(nB))
      .crossJoin(broadcast(oov))
      .withColumn("lnv", coalesce(col("ln_kn"),
        when(col("n_ctx").isNotNull && col("n_cont").isNotNull,
          log((lit(4) * col("b") * col("n_ctx")).cast("double") /
            (lit(3) * col("n1p") * col("n_cont")).cast("double"))
            .cast(DecimalType(18, 8))),
        col("ln_oov")))
      .groupBy("doc_id")
      .agg(sum("c").as("n_bigrams"),
        sum(col("c").cast(DecimalType(12, 0)) * col("lnv")).as("sdec"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("sdec").cast("double") / col("n_bigrams").cast("double"), 4)
          .as("kn_surprisal"))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for Language
    * Models via Importance Resampling"): score every raw-corpus document by
    * the log importance ratio of a TARGET distribution over the raw one,
    * log w(x) = Σ_tokens [ ln p̂_target(b(tok)) − ln p̂_raw(b(tok)) ],
    * under HASHED unigram features — tokens fold into `buckets` buckets, so
    * both models and the scoring LUT are O(buckets) regardless of corpus or
    * vocabulary size (the paper's trick, and the whole 100 TB story: the
    * model "training" is two bounded-key map-side-combined counts, the LUT
    * is a broadcast of `buckets` rows, and scoring adds one
    * (doc_id, bucket) shuffle — raw text never shuffles). Documents
    * resembling the target (e.g. a trusted high-quality subset) score high;
    * resampling by exp(log w) shifts the corpus toward the target domain.
    * Probabilities are Laplace-smoothed over the full bucket space, so a
    * bucket unseen in the target still yields a finite ratio.
    *
    * Token hashing is the [[rollingHash]] polynomial fold mod [[RollMod]]
    * then mod `buckets` — arithmetic both engines evaluate identically (no
    * engine-specific hash). Determinism is the x16/x24 treatment: each ln
    * computed once per bucket from bit-identical integer-ratio doubles,
    * quantized to DECIMAL(18,8), subtracted exactly; doc counts narrow to
    * DECIMAL(12,0); accumulation exact decimal; ONE final ROUND(4).
    * The (doc_id, bucket) count frame materializes once
    * ([[graft.operators.Materialize.cut]] — the higher-order bucket fold
    * defeats exchange reuse exactly as in x22, and the frame feeds both the
    * raw-model rollup and the scoring join). NOTE: the cut is an EAGER
    * action at call time (the d14-bloom posture) — a caller scoring many
    * batches against one fixed target should fit once with
    * [[dsirModelLut]] and serve each batch through [[dsirScoreNarrow]]
    * instead of re-calling this self-scoring form.
    */
  def dsirWeights(raw: DataFrame, target: DataFrame,
                  buckets: Int = 1024): DataFrame = {
    require(buckets > 0, s"buckets $buckets must be positive")
    def bucketOf(tok: Column): Column =
      graft.functions.PolyHashFns.polyHash(tok, RollMod) % buckets
    val docBucket = graft.operators.Materialize.cut(raw
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), bucketOf(col("tok")).as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("c")))
    val src = docBucket.groupBy("b").agg(sum("c").as("ns"))
    val srcTot = src.agg(sum("ns").as("n_src"))
    val tgt = target
      .select(explode(TextFns.tokens(col("text"))).as("tok"))
      .select(bucketOf(col("tok")).as("b"))
      .groupBy("b").agg(count(lit(1)).as("nt"))
    val tgtTot = tgt.agg(sum("nt").as("n_tgt"))
    val lut = src.join(tgt, Seq("b"), "left")
      .crossJoin(broadcast(srcTot)).crossJoin(broadcast(tgtTot))
      .select(col("b"),
        (log((coalesce(col("nt"), lit(0L)) + 1).cast("double") /
            (col("n_tgt") + buckets).cast("double")).cast(DecimalType(18, 8))
          - log((col("ns") + 1).cast("double") /
            (col("n_src") + buckets).cast("double")).cast(DecimalType(18, 8)))
          .as("lnr"))
    docBucket.join(lut, Seq("b"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"),
        sum(col("c").cast(DecimalType(12, 0)) * col("lnr")).as("sdec"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("sdec").cast("double"), 4).as("dsir_logw"))
  }

  /** FIT the DSIR model once, as driver values: the per-bucket quantized
    * log-ratio LUT ([[dsirWeights]]' `lnr`), extended by Laplace smoothing
    * to ALL `buckets` buckets — including those no raw token hit — so the
    * model can serve documents the fit never saw (new batches, streams).
    * Exactly `buckets` decimals on the driver (metadata, not data; the
    * same bounded-collect posture as the IVF centroid cache), reproducing
    * the in-cluster LUT bit-for-bit: same ln inputs (integer-ratio
    * doubles), same HALF_UP scale-8 quantization Spark's decimal cast
    * applies (equality with [[dsirWeights]] is spec-pinned).
    */
  def dsirModelLut(raw: DataFrame, target: DataFrame,
                   buckets: Int = 1024): Array[java.math.BigDecimal] =
    dsirModelFromCounts(
      dsirBucketCounts(raw, buckets), dsirBucketCounts(target, buckets), buckets)

  /** The (bucket, n) token histogram one corpus (or one BATCH) contributes
    * to a DSIR model — a `buckets`-keyed map-side-combined rollup, and the
    * additive unit the incremental path persists through
    * [[graft.operators.CountStore]]: histograms SUM, so a model read from
    * appended batch counts equals the from-scratch fit exactly (the x27
    * def pins it against x25's unchanged oracle).
    */
  def dsirBucketCounts(docs: DataFrame, buckets: Int = 1024): DataFrame = {
    require(buckets > 0 && buckets <= 65536,
      s"buckets $buckets outside (0, 65536] — the LUT is a driver value")
    docs
      .select(explode(TextFns.tokens(col("text"))).as("tok"))
      .select((graft.functions.PolyHashFns.polyHash(col("tok"), RollMod)
        % buckets).as("b"))
      .groupBy("b").agg(count(lit(1)).as("n"))
  }

  /** Build the serving LUT from count frames (each ≤ `buckets` rows —
    * bounded collects), whatever produced them: a direct
    * [[dsirBucketCounts]] pass or a [[graft.operators.CountStore]] read
    * over incrementally appended batches.
    */
  def dsirModelFromCounts(srcCounts: DataFrame, tgtCounts: DataFrame,
                          buckets: Int = 1024): Array[java.math.BigDecimal] = {
    require(buckets > 0 && buckets <= 65536,
      s"buckets $buckets outside (0, 65536] — the LUT is a driver value")
    def toMap(counts: DataFrame): (Map[Long, Long], Long) = {
      // limit(cap+1) BEFORE the collect (the collectCapped idiom): a frame
      // that is not a bucket histogram fails fast instead of flooding the
      // driver first
      val rows = counts.limit(buckets + 1).collect()
      require(rows.length <= buckets,
        s"count frame has > $buckets rows — not a $buckets-bucket histogram")
      val m = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
      (m, m.valuesIterator.sum)
    }
    val (srcM, nSrc) = toMap(srcCounts)
    val (tgtM, nTgt) = toMap(tgtCounts)
    def q8(x: Double): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(x).setScale(8, java.math.RoundingMode.HALF_UP)
    Array.tabulate(buckets) { b =>
      val lnT = q8(math.log(
        (tgtM.getOrElse(b.toLong, 0L) + 1).toDouble / (nTgt + buckets).toDouble))
      val lnS = q8(math.log(
        (srcM.getOrElse(b.toLong, 0L) + 1).toDouble / (nSrc + buckets).toDouble))
      lnT.subtract(lnS)
    }
  }

  /** SERVE a fitted DSIR model as a pure NARROW map — the 100 TB scoring
    * shape: the LUT rides into codegen as a constant decimal array
    * (`element_at` per token, exact decimal accumulation inside one
    * `aggregate` fold), so scoring shuffles NOTHING and needs no second
    * corpus pass — the same zero-exchange posture as the Gopher battery,
    * and stateless, so the identical stage scores a STREAM (no watermark,
    * no state store). Output schema and values match [[dsirWeights]] when
    * the scored frame is the fit's raw corpus (spec-pinned equality).
    */
  def dsirScoreNarrow(docs: DataFrame,
                      lut: Array[java.math.BigDecimal]): DataFrame = {
    val buckets = lut.length
    val lutCol = array(lut.map(v => lit(v).cast(DecimalType(18, 8))).toSeq: _*)
    val toks = TextFns.tokens(col("text"))
    // accumulator precision 30, NOT 38: a (38,8)+(18,8) add needs precision
    // 39, so Spark's overflow rule would silently drop the scale to 7 and
    // round EVERY step — (30,8)+(18,8) → (31,8) stays exact, and the cast
    // back to (30,8) is exact too (22 integer digits; per-doc sums are
    // bounded by n_tokens · max|lnr| ≪ 10^22)
    val acc30 = DecimalType(30, 8)
    val score = aggregate(
      toks,
      lit(java.math.BigDecimal.ZERO).cast(acc30),
      (acc, tok) => (acc + element_at(lutCol,
        ((graft.functions.PolyHashFns.polyHash(tok, RollMod) % buckets) + 1)
          .cast("int")))
        .cast(acc30))
    docs.select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      round(score.cast("double"), 4).as("dsir_logw"))
  }

  /** BM25 relevance scoring of the corpus against a query term set
    * (Robertson-Spärck Jones probabilistic retrieval; the +1 IDF variant,
    * always positive) — the benchmark-targeted data-selection primitive:
    * score pretraining documents by relevance to an eval task's terms and
    * upsample the top of the ranking. Per document,
    * Σ_{t∈Q} IDF(t) · f(t,d)(k1+1) / (f(t,d) + k1(1−b+b·|d|/avgdl)),
    * IDF(t) = ln((N−n_t+0.5)/(n_t+0.5) + 1). Docs matching no term score
    * 0.0 (every doc emits a row, so downstream mixing sees the whole
    * corpus).
    *
    * Defaults k1 = 1.25, b = 0.75 — both EXACT binary doubles (1.2's
    * binary representation differs between a Scala literal sum and a SQL
    * decimal literal; 1.25/0.75 cannot), so both engines' constants agree
    * bit-for-bit; 1.25 sits inside the standard 1.2–2.0 k1 range. The
    * per-(term, doc) saturation fraction is a rational function of exact
    * integers and the avgdl double — correctly rounded identically in both
    * engines — then quantized to DECIMAL(18,8) and multiplied by the
    * quantized-ln IDF so cross-term accumulation is exact decimal
    * (row-order-independent), one final ROUND(4).
    *
    * Scale shape: only QUERY-TERM token rows survive the explode filter —
    * the (doc_id, term) count shuffle is matching-rows-sized, not
    * corpus-token-sized; per-doc lengths ride the same scan (no second
    * corpus pass); the IDF LUT is |Q| rows and the corpus stats 1 row,
    * both broadcast; raw text never shuffles.
    */
  def bm25Score(documents: DataFrame, queryTerms: Seq[String],
                k1: Double = 1.25, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25Score needs at least one query term")
    val toks = TextFns.tokens(col("text"))
    val base = documents.select(col("doc_id"), size(toks).as("dl"), toks.as("w"))
    val docTerm = base
      .select(col("doc_id"), col("dl"), explode(col("w")).as("tok"))
      .filter(col("tok").isin(queryTerms: _*))
      .groupBy("doc_id", "dl", "tok").agg(count(lit(1)).as("f"))
    val stats = base.agg(count(lit(1)).as("n_docs"), sum("dl").as("tot_tokens"))
    val idf = docTerm.groupBy("tok").agg(count(lit(1)).as("n_t"))
      .crossJoin(broadcast(stats))
      .select(col("tok"),
        log((col("n_docs").cast("double") - col("n_t").cast("double") + 0.5) /
            (col("n_t").cast("double") + 0.5) + 1.0)
          .cast(DecimalType(18, 8)).as("idf"))
    val scored = docTerm
      .join(broadcast(idf), Seq("tok"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl",
        col("tot_tokens").cast("double") / col("n_docs").cast("double"))
      .withColumn("frac",
        (col("f").cast("double") * lit(k1 + 1.0)) /
          (col("f").cast("double") +
            lit(k1) * (lit(1.0 - b) +
              lit(b) * col("dl").cast("double") / col("avgdl"))))
      .withColumn("contrib", col("idf") * col("frac").cast(DecimalType(18, 8)))
      .groupBy("doc_id").agg(sum("contrib").as("sdec"))
    documents.select("doc_id")
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        round(coalesce(col("sdec").cast("double"), lit(0.0)), 4).as("bm25"))
  }

  /** A fitted BM25 model: per-term quantized IDF decimals + the corpus
    * average document length — |Q|+1 driver values (metadata).
    */
  final case class Bm25Model(idf: Seq[(String, java.math.BigDecimal)],
                             avgdl: Double, k1: Double, b: Double)

  /** FIT BM25 once: corpus stats (1 row) + per-term document frequencies
    * (≤ |Q| rows) collected to the driver, IDFs quantized with the same
    * HALF_UP scale-8 rounding Spark's decimal cast applies — so
    * [[bm25ScoreNarrow]] reproduces [[bm25Score]] bit-for-bit
    * (spec-pinned). Terms absent from the corpus keep an IDF row (their
    * per-doc frequency is 0 everywhere, so they contribute exactly 0).
    */
  def bm25Fit(documents: DataFrame, queryTerms: Seq[String],
              k1: Double = 1.25, b: Double = 0.75): Bm25Model = {
    require(queryTerms.nonEmpty, "bm25Fit needs at least one query term")
    val toks = TextFns.tokens(col("text"))
    val statsRow = documents
      .agg(count(lit(1)).as("n_docs"), sum(size(toks).cast("long")).as("tot"))
      .collect()(0)
    val (nDocs, tot) = (statsRow.getLong(0), statsRow.getLong(1))
    val dfRows = documents
      .select(col("doc_id"), explode(toks).as("tok"))
      .filter(col("tok").isin(queryTerms: _*))
      .groupBy("tok").agg(count_distinct(col("doc_id")).as("n_t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def q8(x: Double): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(x).setScale(8, java.math.RoundingMode.HALF_UP)
    val idf = queryTerms.map { t =>
      val nT = dfRows.getOrElse(t, 0L)
      t -> q8(math.log(
        (nDocs.toDouble - nT.toDouble + 0.5) / (nT.toDouble + 0.5) + 1.0))
    }
    Bm25Model(idf, tot.toDouble / nDocs.toDouble, k1, b)
  }

  /** SERVE a fitted BM25 model as a pure NARROW map: per-term frequencies
    * come from one `filter`-count over the token array per term (no
    * explode, no shuffle — matching-term work only), the saturation
    * fraction from the model's constants, and the |Q| contributions sum as
    * exact decimals in fixed term order. Zero exchanges at any scale, and
    * stateless — the identical stage scores a STREAM. Matches
    * [[bm25Score]]'s output bit-for-bit on the fit corpus (spec-pinned);
    * zero-match docs score 0.0 like the fused path.
    */
  def bm25ScoreNarrow(docs: DataFrame, model: Bm25Model): DataFrame = {
    val toks = TextFns.tokens(col("text"))
    val dl = size(toks).cast("double")
    val denomTail = lit(model.k1) * (lit(1.0 - model.b) +
      lit(model.b) * dl / lit(model.avgdl))
    // products narrowed to (28,16): a (38,16)+(38,16) add needs precision
    // 39 and would silently drop to scale 15 per step; (28,16) adds grow
    // exactly and the per-step cast back is exact (12 integer digits vs
    // contribution magnitudes of a few tens)
    val c28 = DecimalType(28, 16)
    val contribs = model.idf.map { case (term, idfV) =>
      val f = size(filter(toks, x => x === lit(term))).cast("double")
      val frac = (f * lit(model.k1 + 1.0)) / (f + denomTail)
      (lit(idfV).cast(DecimalType(18, 8)) * frac.cast(DecimalType(18, 8)))
        .cast(c28)
    }
    val score = contribs.reduce((a, b) => (a + b).cast(c28))
    docs.select(
      col("doc_id"),
      round(score.cast("double"), 4).as("bm25"))
  }

  /** Overlapping token-window chunking — the embedding/RAG prep primitive
    * (and the long-document splitter for context-bounded training): each
    * document becomes ⌈(n−overlap)/stride⌉ chunks of ≤ `maxTokens` tokens,
    * consecutive chunks sharing `overlapTokens` (stride = max − overlap).
    * Chunk starts are 0, stride, 2·stride, … while start < n − overlap
    * (documents at or under the overlap yield exactly one chunk), so the
    * final chunk may be short but no chunk is wholly contained in its
    * predecessor. Pure narrow map + explode — chunking 100 TB shuffles
    * nothing; the chunk id is (doc_id, chunk_id), stable across runs.
    */
  def chunkDocuments(documents: DataFrame, maxTokens: Int = 32,
                     overlapTokens: Int = 8): DataFrame = {
    require(maxTokens > 0, s"maxTokens $maxTokens must be positive")
    require(overlapTokens >= 0 && overlapTokens < maxTokens,
      s"overlapTokens $overlapTokens outside [0, maxTokens)")
    val stride = maxTokens - overlapTokens
    val toks = TextFns.tokens(col("text"))
    documents
      .select(col("doc_id"), toks.as("w"))
      .select(col("doc_id"), col("w"),
        posexplode(sequence(lit(0),
          greatest(lit(0), size(col("w")) - overlapTokens - 1), lit(stride))))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
        slice(col("w"), col("col") + 1, lit(maxTokens)).as("cw"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("cw")).as("n_tokens"),
        array_join(col("cw"), " ").as("chunk_text"))
  }

  /** Per-document TF-IDF keywords — the classic content-signature
    * extraction (tags for dedup triage, topic sampling, search-side
    * doc summaries): score(doc, token) = in-doc count × ln(N/df), top-k
    * tokens per document. Same determinism treatment as
    * [[unigramSurprisal]]: ln() quantizes to DECIMAL(18,8) once per
    * vocabulary entry, the score is an exact decimal·count product, and
    * ordering ties break on the token string — identical rankings in any
    * engine. The per-doc top-k rides the salted two-phase
    * [[graft.operators.TopKPerGroup]], the doc-frequency rollup and IDF
    * LUT are vocabulary-sized (broadcast), and raw text never shuffles.
    */
  def tfidfKeywords(documents: DataFrame, k: Int = 3): DataFrame = {
    require(k > 0, s"k $k must be positive")
    val docTok = documents
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
    val docFreq = docTok.groupBy("tok").agg(count(lit(1)).as("df"))
    val nDocs = documents.agg(count(lit(1)).as("n_docs"))
    val idf = docFreq.crossJoin(broadcast(nDocs))
      .select(col("tok"),
        log(col("n_docs").cast("double") / col("df").cast("double"))
          .cast(DecimalType(18, 8)).as("idfv"))
    val scored = docTok.join(idf, Seq("tok"))
      .select(col("doc_id"), col("tok"),
        // same precision-narrowing as unigramSurprisal: keep scale 8 exact
        (col("c").cast(DecimalType(12, 0)) * col("idfv")).as("score"))
    graft.operators.TopKPerGroup.topKPerGroup(scored, Seq("doc_id"),
      tieBreakCol = "tok", order = Seq(col("score").desc, col("tok")),
      k = k, rankCol = "kw_rank")
      .select(col("doc_id"), col("kw_rank"), col("tok").as("keyword"),
        col("score").cast("double").as("score"))
  }

  /** Language-adaptive stopword ratio: score each document against the
    * lexicon of its PREDICTED language, not a fixed one — the quality
    * refinement that keeps non-English documents from being penalized by an
    * English stopword list. Narrow map (lexicons are tiny literals).
    */
  def stopRatioByLang(documents: DataFrame): DataFrame = {
    val t = TextFns.tokens(col("text"))
    val scored = documents.select(
      (Seq(col("doc_id"), size(t).as("n_tokens")) ++ Lexicons.map { case (lang, words) =>
        size(filter(t, x => x.isin(words.map(lit): _*).cast("boolean"))).as(s"${lang}_hits")
      }): _*)
    val Seq(en, es, de, fr) = Lexicons.map(l => col(s"${l._1}_hits"))
    val predicted =
      when(en >= es && en >= de && en >= fr, "en")
        .when(es >= de && es >= fr, "es")
        .when(de >= fr, "de")
        .otherwise("fr")
    val hitsOfPredicted = Lexicons.tail.foldLeft(
      when(predicted === Lexicons.head._1, col(s"${Lexicons.head._1}_hits"))) {
      case (acc, (lang, _)) => acc.when(predicted === lang, col(s"${lang}_hits"))
    }
    scored.select(
      col("doc_id"), predicted.as("predicted_lang"), col("n_tokens"),
      hitsOfPredicted.as("n_stop_predicted"))
      .withColumn("stop_ratio",
        col("n_stop_predicted").cast("double") / col("n_tokens").cast("double"))
  }

  /** Composite quality score: equal-weight blend of length saturation,
    * lexical diversity, stopword-ratio, and 3-gram uniqueness — the
    * standard cheap pre-filter shape for training-data pipelines.
    */
  def qualityScore(documents: DataFrame, carryCols: Seq[String] = Nil): DataFrame = {
    val t = TextFns.tokens(col("text"))
    val sh = TextFns.shingles(col("text"))
    val enStops = Lexicons.head._2
    documents.select(
      (col("doc_id") +: carryCols.map(col)) ++ Seq(
      length(col("text")).as("n_chars"),
      size(t).as("n_tokens"),
      size(array_distinct(t)).as("n_distinct"),
      size(filter(t, x => x.isin(enStops.map(lit): _*).cast("boolean"))).as("n_stop"),
      size(sh).as("n_shingles")): _*)
      .withColumn("len_score", least(col("n_chars").cast("double") / 500.0, lit(1.0)))
      .withColumn("diversity", col("n_distinct").cast("double") / col("n_tokens").cast("double"))
      .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_tokens").cast("double"))
      .withColumn("uniq3", when(col("n_tokens") > 2,
        col("n_shingles").cast("double") / (col("n_tokens") - 2).cast("double")).otherwise(0.0))
      // no ROUND: the components are exact small rationals that frequently
      // land on 6dp half-way points where Spark/DuckDB double rounding
      // diverges; the raw double is deterministic (identical op order).
      .withColumn("quality",
        (col("len_score") + col("diversity") + col("stop_ratio") + col("uniq3")) / 4.0)
  }

  /** Quality + language prediction in ONE narrow projection, keeping the
    * text — the row-local form of (qualityScore ⋈ langId) that needs no
    * doc_id join, which is what lets the stateless curation stages run
    * unchanged on a STREAM (joining the separately derived frames would be
    * a stream-stream join). Formulas identical to [[qualityScore]] /
    * [[langId]].
    */
  def scoreDocuments(documents: DataFrame): DataFrame = {
    val t = TextFns.tokens(col("text"))
    val sh = TextFns.shingles(col("text"))
    val enStops = Lexicons.head._2
    val base = documents.select(
      (Seq(col("doc_id"), col("text"),
        length(col("text")).as("n_chars"),
        size(t).as("n_tokens"),
        size(array_distinct(t)).as("n_distinct"),
        size(filter(t, x => x.isin(enStops.map(lit): _*).cast("boolean"))).as("n_stop"),
        size(sh).as("n_shingles")) ++ Lexicons.map { case (lang, words) =>
        size(filter(t, x => x.isin(words.map(lit): _*).cast("boolean"))).as(s"${lang}_hits")
      }): _*)
    val Seq(en, es, de, fr) = Lexicons.map(l => col(s"${l._1}_hits"))
    base
      .withColumn("len_score", least(col("n_chars").cast("double") / 500.0, lit(1.0)))
      .withColumn("diversity", col("n_distinct").cast("double") / col("n_tokens").cast("double"))
      .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_tokens").cast("double"))
      .withColumn("uniq3", when(col("n_tokens") > 2,
        col("n_shingles").cast("double") / (col("n_tokens") - 2).cast("double")).otherwise(0.0))
      .withColumn("quality",
        (col("len_score") + col("diversity") + col("stop_ratio") + col("uniq3")) / 4.0)
      .withColumn("predicted_lang",
        when(en >= es && en >= de && en >= fr, "en")
          .when(es >= de && es >= fr, "es")
          .when(de >= fr, "de")
          .otherwise("fr"))
      .select("doc_id", "text", "quality", "predicted_lang")
  }

  /** Document fingerprint: MD5 of normalized text (exact-dup key) — the
    * portable stand-in for a rolling content hash.
    */
  def fingerprints(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      md5(TextFns.normalized(col("text")).cast("binary")).as("fingerprint"),
      length(TextFns.normalized(col("text"))).as("norm_len"))

  /** BPE-ish regex tokenization (GPT-2-style pattern simplified to the
    * ASCII classes this corpus uses): contractions, space-prefixed word /
    * number / punctuation runs. The mechanism — regex pre-tokenization
    * before a subword merge table — is what real BPE tokenizers run as
    * their first pass.
    */
  val BpePattern = "'[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+"

  def tokenCounts(documents: DataFrame): DataFrame = {
    val ws = TextFns.tokens(col("text"))
    documents.select(
      col("doc_id"),
      size(ws).as("n_ws_tokens"),
      size(regexp_extract_all(col("text"), lit(BpePattern), lit(0))).as("n_bpe_tokens"))
  }

  /** Polynomial rolling hash over the character stream — the classic
    * content-defined fingerprint. Modulus 2^53-111 keeps every intermediate
    * below int64 overflow (DuckDB checks overflow; Java wraps — staying
    * under the limit makes both engines produce the identical value).
    * Served by the native codegen'd [[graft.functions.PolyHashFns]]
    * expression (the HOF fold it replaces is CodegenFallback and
    * allocates a per-char array per document; bit-parity spec-pinned).
    */
  val RollMod = 9007199254740881L

  def rollingHash(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      graft.functions.PolyHashFns.polyHash(col("text"), RollMod).as("rhash"))

  /** Within-document repetition signals (the Gopher-style quality rules):
    * the duplicate fraction of word n-grams for n = 2 and 3 — a document
    * whose text loops on itself has few distinct n-grams relative to its
    * n-gram count. Pure narrow map (total counts are token arithmetic,
    * distinct counts come from the one-pass shingle expression); zero
    * shuffle at any scale.
    */
  def repetition(documents: DataFrame): DataFrame = {
    val t = TextFns.tokens(col("text"))
    def dupFrac(tot: Column, dist: Column): Column =
      when(tot > 0, lit(1.0) - dist.cast("double") / tot.cast("double")).otherwise(0.0)
    documents.select(
      col("doc_id"),
      size(t).as("n_tokens"),
      greatest(size(t) - 1, lit(0)).as("tot_2grams"),
      size(TextFns.shingles(col("text"), 2)).as("dist_2grams"),
      greatest(size(t) - 2, lit(0)).as("tot_3grams"),
      size(TextFns.shingles(col("text"), 3)).as("dist_3grams"))
      .withColumn("dup_2gram_frac", dupFrac(col("tot_2grams"), col("dist_2grams")))
      .withColumn("dup_3gram_frac", dupFrac(col("tot_3grams"), col("dist_3grams")))
  }

  /** VOCABULARY PROFILE — the corpus-level Zipf-concentration diagnostics
    * (a natural-language corpus concentrates: top-10 terms carry a large
    * token share, and a long hapax tail exists; spam/generated text skews
    * both): total tokens, vocabulary size, hapax count/fraction
    * (frequency-1 terms — the classic OOV-pressure signal), and the token
    * share of the top-10 / top-100 terms. ALL exact integer counts + one
    * double division each — no logs, no float accumulation (a log-log OLS
    * slope says the same thing but is cross-engine fragile; shares are
    * not). One row out.
    *
    * Scale shape: one map-side-combined term count (vocabulary-sized out
    * of the exchange), three 1-row aggregates over it, top-k via
    * TakeOrderedAndProject ordered by the TOTAL (count desc, term) key —
    * never a global sort, deterministic at the k boundary.
    */
  def vocabularyProfile(documents: DataFrame): DataFrame = {
    val tc = unigramCounts(documents)
    val totals = tc.agg(
      sum("n_w").as("n_tokens"),
      count(lit(1)).as("n_vocab"),
      sum(when(col("n_w") === 1, 1L).otherwise(0L)).as("n_hapax"))
    def topShare(k: Int) = tc.orderBy(col("n_w").desc, col("tok")).limit(k)
      .agg(sum("n_w").as(s"top$k"))
    totals
      .crossJoin(broadcast(topShare(10)))
      .crossJoin(broadcast(topShare(100)))
      .select(col("n_tokens"), col("n_vocab"), col("n_hapax"),
        round(col("n_hapax").cast("double") / col("n_vocab").cast("double"), 4)
          .as("hapax_frac"),
        round(col("top10").cast("double") / col("n_tokens").cast("double"), 4)
          .as("top10_share"),
        round(col("top100").cast("double") / col("n_tokens").cast("double"), 4)
          .as("top100_share"))
  }

  /** Flesch reading ease + Flesch–Kincaid grade level — the classic
    * readability pre-filter (too-hard AND too-trivial text both correlate
    * with low training value). Counting is exact-integer and heuristic in
    * the standard way: sentences = `[.!?]+` runs (floored at 1), words =
    * whitespace tokens, syllables = vowel GROUPS (`[aeiouy]+`) per word
    * floored at 1.
    *
    * SCORING IS EXACT INTEGER ARITHMETIC (round-13 fix, caught by the
    * whole-registry sf0.1 sweep): `round(double, 4)` is NOT bit-stable
    * cross-engine at half-boundaries — Spark rounds the exact binary
    * expansion via BigDecimal while DuckDB scales in floating point, and
    * at sf0.1 one document's fk_grade landed on a boundary and split
    * 4.4262 vs 4.4263. The scores here are rationals over integer counts,
    * so each is computed as one common-denominator fraction and rounded
    * half-away-from-zero IN INTEGERS — (num·10⁴ ± den/2) div den, with
    * truncating integer division (Spark `div` ≡ DuckDB `//`, verified on
    * negatives) — then rendered as the exact double `scaled / 10⁴`. Every
    * step is engine-independent. Long-safe to ~10⁹ word·sentence product
    * per document (a 100 MB single doc — far past any chunked corpus).
    * Pure narrow map: one regex pass per doc + one fused per-token
    * aggregate, zero exchanges at any scale.
    */
  def readability(documents: DataFrame, textCol: String = "text"): DataFrame = {
    val t = TextFns.tokens(col(textCol))
    val nSentences = greatest(
      size(regexp_extract_all(col(textCol), lit("[.!?]+"), lit(0))), lit(1))
    val nSyllables = aggregate(
      transform(t, x =>
        greatest(size(regexp_extract_all(x, lit("[aeiouy]+"), lit(0))), lit(1))
          .cast("long")),
      lit(0L), (acc, v) => acc + v)
    documents.select(
        col("doc_id"),
        nSentences.cast("long").as("n_sentences"),
        size(t).cast("long").as("n_words"),
        nSyllables.as("n_syllables"))
      // flesch = 206.835 − 1.015·w/s − 84.6·y/w
      //        = (206835·w·s − 1015·w² − 84600·y·s) / (1000·w·s)
      // fk     = 0.39·w/s + 11.8·y/w − 15.59
      //        = (39·w² + 1180·y·s − 1559·w·s) / (100·w·s)
      .withColumn("fnum", expr(
        "206835L * n_words * n_sentences - 1015L * n_words * n_words" +
          " - 84600L * n_syllables * n_sentences"))
      .withColumn("fden", expr("1000L * n_words * n_sentences"))
      .withColumn("knum", expr(
        "39L * n_words * n_words + 1180L * n_syllables * n_sentences" +
          " - 1559L * n_words * n_sentences"))
      .withColumn("kden", expr("100L * n_words * n_sentences"))
      .select(col("doc_id"), col("n_sentences"), col("n_words"), col("n_syllables"),
        (expr("""(fnum * 10000L + IF(fnum >= 0, fden div 2, -(fden div 2)))
                 div fden""").cast("double") / lit(10000.0)).as("flesch"),
        (expr("""(knum * 10000L + IF(knum >= 0, kden div 2, -(kden div 2)))
                 div kden""").cast("double") / lit(10000.0)).as("fk_grade"))
  }

  // PII scrubbing patterns — the common subset of java.util.regex and RE2
  // so the DuckDB oracle applies byte-identical semantics.
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlPattern = "https?://[^ \\t\\n]+"
  val LongNumPattern = "[0-9]{7,}"

  /** PII redaction: replace emails / URLs / long digit runs with typed
    * placeholder tokens and report per-class hit counts. Scrub order is
    * URL → email → number (a URL may embed an email-shaped userinfo part;
    * scrubbing it first keeps the classes disjoint). Narrow map, zero
    * shuffle — the regexes are the whole cost and stream through
    * whole-stage codegen.
    */
  def piiScrub(documents: DataFrame, textCol: String = "text"): DataFrame =
    documents.select(
      col("doc_id"),
      size(regexp_extract_all(col(textCol), lit(UrlPattern), lit(0))).as("n_urls"),
      size(regexp_extract_all(
        regexp_replace(col(textCol), UrlPattern, "<URL>"),
        lit(EmailPattern), lit(0))).as("n_emails"),
      size(regexp_extract_all(
        regexp_replace(regexp_replace(col(textCol), UrlPattern, "<URL>"),
          EmailPattern, "<EMAIL>"),
        lit(LongNumPattern), lit(0))).as("n_longnums"),
      regexp_replace(
        regexp_replace(
          regexp_replace(col(textCol), UrlPattern, "<URL>"),
          EmailPattern, "<EMAIL>"),
        LongNumPattern, "<NUM>").as("scrubbed"))

  /** Unicode cleanup — the normalization stage between raw web extraction
    * and tokenization (every corpus pipeline's quote/dash/invisible-char
    * pass): typographic characters MAP to ASCII (curly quotes → "/',
    * en/em dash → -, NBSP → space, one `translate` — char-for-char, no
    * regex), zero-width characters (ZWSP/ZWNJ/ZWJ/BOM) and C0/DEL control
    * characters are REMOVED, and each class is counted from length deltas
    * of exact integer character counts. Pure narrow map, three codegen'd
    * string ops per row — scrubbing 100 TB shuffles nothing.
    */
  val UnicodeMapFrom = "\u201C\u201D\u2018\u2019\u2013\u2014\u00A0"
  val UnicodeMapTo = "\"\"''-- "
  val ZeroWidthPattern = "[\u200B\u200C\u200D\uFEFF]"
  // written with per-engine escape syntax (Java backslash-u escapes here,
  // RE2 \x{..} in the oracle) because a literal NUL inside a pattern
  // string is the one char neither SQL string layer passes through
  // reliably
  val ControlPattern = "[\u0000-\u0008\u000B\u000C\u000E-\u001F\u007F]"

  def unicodeScrub(documents: DataFrame, textCol: String = "text"): DataFrame = {
    val t0 = col(textCol)
    val t1 = translate(t0, UnicodeMapFrom, UnicodeMapTo)
    val t2 = regexp_replace(t1, ZeroWidthPattern, "")
    val t3 = regexp_replace(t2, ControlPattern, "")
    documents.select(
      col("doc_id"),
      (length(t0) - length(translate(t0, UnicodeMapFrom, ""))).cast("int")
        .as("n_mapped"),
      (length(t1) - length(t2)).cast("int").as("n_zero_width"),
      (length(t2) - length(t3)).cast("int").as("n_controls"),
      t3.as("scrubbed"))
  }

  /** Corpus-level top-k token n-grams: explode each document's distinct
    * n-grams, count across the corpus, keep the k most frequent
    * (deterministic ties by n-gram). explode → partial-agg → shuffle of
    * (ngram, count) partials → TakeOrdered; the corpus text itself never
    * shuffles.
    */
  def topNgrams(documents: DataFrame, n: Int = 2, k: Int = 20): DataFrame =
    documents
      .select(explode(TextFns.shingles(col("text"), n)).as("ngram"))
      .groupBy("ngram")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("ngram"))
      .limit(k)

  /** The Gopher quality-rule battery (Rae et al. 2021, §A.1.1) — the
    * standard pre-training document filter, per-document boolean verdicts
    * plus the metrics behind them:
    *   - word count in [50, 100000]
    *   - mean word length in [3, 10] characters
    *   - symbol-to-word ratio (`#` or `...` occurrences / words) < 0.1
    *   - fraction of words containing an alphabetic character > 0.80
    *   - at least 2 distinct required stopwords present
    * (The paper's line-granularity rules — bullet-start / ellipsis-end line
    * fractions — need newline structure this corpus lacks and live with the
    * line operators, not here.)
    *
    * Determinism: every metric is an integer count; each ratio is ONE double
    * division of those integers (correctly rounded identically in both
    * engines), and each verdict compares that ratio to a rational constant —
    * so the booleans are bit-stable across engines, row order, and
    * partitioning. The `...`-occurrence count uses the length-delta of a
    * global left-to-right non-overlapping replace, which regex and plain
    * string replace agree on; the delta is an exact multiple of 3, so the
    * double division by 3 round-trips to int exactly.
    *
    * Scale shape: pure narrow map over the documents scan — zero shuffle,
    * whole-stage codegen end to end; at 100 TB this runs at scan speed and
    * composes with any downstream curation predicate.
    */
  def gopherRules(documents: DataFrame,
                  carryCols: Seq[String] = Nil): DataFrame = {
    val reserved = Set("doc_id", "n_words", "sum_word_len", "n_alpha_words",
      "n_symbols", "n_stop_distinct", "mean_word_len", "symbol_ratio",
      "alpha_frac", "ok_word_count", "ok_mean_word_len", "ok_symbol_ratio",
      "ok_alpha_words", "ok_stopwords", "keep_doc")
    val clash = carryCols.filter(reserved)
    require(clash.isEmpty,
      s"gopherRules: carryCols ${clash.mkString(", ")} collide with output columns")
    val w = TextFns.tokens(col("text"))
    val stops = Lexicons.head._2
    val nEllipsis =
      ((length(col("text")) - length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / 3)
        .cast("int")
    val nHash = length(col("text")) - length(regexp_replace(col("text"), "#", ""))
    val base = documents.select(
      (col("doc_id") +: carryCols.map(col)) ++ Seq(
      size(w).as("n_words"),
      // long seed: a >2^31-char document must widen, not wrap (ADVICE r10)
      aggregate(w, lit(0L), (acc, x) => acc + length(x)).as("sum_word_len"),
      size(filter(w, x => x.rlike("[a-z]"))).as("n_alpha_words"),
      (nHash + nEllipsis).as("n_symbols"),
      size(filter(array_distinct(w), x => x.isin(stops.map(lit): _*).cast("boolean")))
        .as("n_stop_distinct")): _*)
    val scored = base
      .withColumn("mean_word_len",
        col("sum_word_len").cast("double") / col("n_words").cast("double"))
      .withColumn("symbol_ratio",
        col("n_symbols").cast("double") / col("n_words").cast("double"))
      .withColumn("alpha_frac",
        col("n_alpha_words").cast("double") / col("n_words").cast("double"))
    scored.select(
      (col("doc_id") +: carryCols.map(col)) ++ Seq(
      col("n_words"), col("mean_word_len"), col("symbol_ratio"),
      col("alpha_frac"), col("n_stop_distinct"),
      col("n_words").between(50, 100000).as("ok_word_count"),
      (col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0).as("ok_mean_word_len"),
      (col("symbol_ratio") < 0.1).as("ok_symbol_ratio"),
      (col("alpha_frac") > 0.8).as("ok_alpha_words"),
      (col("n_stop_distinct") >= 2).as("ok_stopwords")): _*)
      .withColumn("keep_doc",
        col("ok_word_count") && col("ok_mean_word_len") && col("ok_symbol_ratio") &&
          col("ok_alpha_words") && col("ok_stopwords"))
  }

  /** The LINE-granularity Gopher rules (Rae et al. 2021, §A.1.1 — the part
    * [[gopherRules]] defers because it needs newline structure): a document
    * is removed when more than 90% of its lines start with a bullet marker
    * (`-`, `*`, `•`, optionally indented, whitespace after the marker) or
    * more than 30% end with an ellipsis (`...` or `…`, optional trailing
    * whitespace) — the signatures of scraped navigation lists and truncated
    * teaser text.
    *
    * Line semantics: `split(text, '\n')` with trailing empties KEPT (Spark
    * and DuckDB agree on this), so a document ending in a newline counts
    * its final empty line — a fixed, cross-engine-stable denominator. Each
    * fraction is ONE double division of integer counts compared to a
    * rational constant, so the verdicts are bit-stable cross-engine; the
    * two line regexes use only syntax Java regex and RE2 share.
    *
    * Scale shape: pure narrow map over the documents scan — zero shuffle,
    * whole-stage codegen end to end, same as the document-granularity
    * battery it composes with.
    */
  def gopherLineRules(documents: DataFrame): DataFrame = {
    val lines = split(col("text"), "\n")
    val base = documents.select(
      col("doc_id"),
      size(lines).as("n_lines"),
      size(filter(lines, x => x.rlike("^\\s*[-*•]\\s+"))).as("n_bullet_lines"),
      size(filter(lines, x => x.rlike("(\\.\\.\\.|…)\\s*$"))).as("n_ellipsis_lines"))
    base
      .withColumn("bullet_frac",
        col("n_bullet_lines").cast("double") / col("n_lines").cast("double"))
      .withColumn("ellipsis_frac",
        col("n_ellipsis_lines").cast("double") / col("n_lines").cast("double"))
      .withColumn("ok_bullet_lines", col("bullet_frac") <= 0.9)
      .withColumn("ok_ellipsis_lines", col("ellipsis_frac") <= 0.3)
      .withColumn("keep_doc", col("ok_bullet_lines") && col("ok_ellipsis_lines"))
  }

  /** Banned-phrase screening (the Dolma/C4-style blocklist tagger): per
    * document, the count of DISTINCT blocklist phrases present as exact
    * word-boundary matches on the lowercased whitespace tokenization, and
    * the keep verdict (zero hits). Matching is set-intersection against the
    * document's L-gram shingles per phrase length L — exact word-boundary
    * semantics with none of regex alternation's escaping or backtracking
    * hazards, and it reuses the codegen'd [[TextFns.shingles]] pass the
    * dedup tier already owns.
    *
    * Scale shape: the blocklist is bounded (a curated list, not data) and
    * ships as plan literals like the stopword lexicons do; the whole
    * operator is ONE narrow map over the corpus scan — zero exchanges
    * (plan-pinned in Round12OpsSpec). One shingle pass per distinct phrase
    * length, not per phrase.
    *
    * Input phrases are normalized (lowercase, whitespace collapsed) before
    * matching, so caller formatting can't desynchronize them from the
    * tokenization.
    */
  def blocklistScreen(documents: DataFrame, phrases: Seq[String],
                      textCol: String = "text"): DataFrame = {
    require(phrases.nonEmpty, "blocklistScreen: empty blocklist")
    val normed = phrases
      .map(_.trim.toLowerCase(java.util.Locale.ROOT)
        .split("\\s+").filter(_.nonEmpty).mkString(" "))
      .filter(_.nonEmpty).distinct
    require(normed.nonEmpty, "blocklistScreen: blocklist is all whitespace")
    val nHits = normed.groupBy(_.split(" ").length).toSeq.sortBy(_._1)
      .map { case (l, ps) =>
        size(array_intersect(TextFns.shingles(col(textCol), l),
          array(ps.sorted.map(lit): _*)))
      }
      .reduce(_ + _)
    documents.select(col("doc_id"), nHits.cast("long").as("n_hits"))
      .withColumn("keep", col("n_hits") === 0L)
  }

  /** CORPUS DRIFT report between two corpus snapshots (the monitoring op a
    * continuously-recrawled training mixture needs): per source, document
    * and token counts on each side, and the TOTAL-VARIATION distance
    * between the two unigram distributions — computed EXACTLY by clearing
    * denominators: TV = Σ|c_a·N_b − c_b·N_a| / (2·N_a·N_b), whose numerator
    * is a pure integer (decimal-summed, order-independent), leaving ONE
    * double division per source — bit-identical cross-engine, where a
    * float Σ|p−q| would be accumulation-order-dependent.
    *
    * Scale shape: each side is one narrow explode + map-side-combined
    * (source, token) count; the comparison is a vocabulary-sized full-outer
    * join (never corpus-sized); per-source totals broadcast back as
    * |sources|-row frames. A source present on only one side reports null
    * TV (no distribution to compare) rather than dividing by zero.
    */
  def corpusDrift(oldDocs: DataFrame, newDocs: DataFrame,
                  textCol: String = "text"): DataFrame = {
    def tokCounts(df: DataFrame, cName: String) = df
      .select(col("source"), explode(TextFns.tokens(col(textCol))).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("source", "tok")
      .agg(count(lit(1)).cast(DecimalType(18, 0)).as(cName))
    val ca = tokCounts(oldDocs, "c_a")
    val cb = tokCounts(newDocs, "c_b")
    // token totals sum the SAME count frames the distribution uses, so
    // Σc = N by construction (one tokenization basis, not two)
    val ta = oldDocs.groupBy("source").agg(count(lit(1)).as("docs_old"))
      .join(ca.groupBy("source").agg(sum("c_a").cast(DecimalType(18, 0)).as("toks_a")),
        Seq("source"), "left")
    val tb = newDocs.groupBy("source").agg(count(lit(1)).as("docs_new"))
      .join(cb.groupBy("source").agg(sum("c_b").cast(DecimalType(18, 0)).as("toks_b")),
        Seq("source"), "left")
    val joined = ca.join(cb, Seq("source", "tok"), "full_outer")
      .na.fill(0, Seq("c_a", "c_b"))
      .join(broadcast(ta.select("source", "toks_a")), Seq("source"))
      .join(broadcast(tb.select("source", "toks_b")), Seq("source"))
    val tv = joined
      .groupBy("source")
      .agg(sum(abs(col("c_a") * col("toks_b") - col("c_b") * col("toks_a")))
        .as("tv_num"))
    ta.join(tb, Seq("source"), "full_outer")
      .join(tv, Seq("source"), "left")
      .select(col("source"),
        coalesce(col("docs_old"), lit(0L)).as("docs_old"),
        coalesce(col("docs_new"), lit(0L)).as("docs_new"),
        coalesce(col("toks_a"), lit(0)).cast("long").as("tokens_old"),
        coalesce(col("toks_b"), lit(0)).cast("long").as("tokens_new"),
        (col("tv_num").cast("double") /
          nullif(lit(2.0) * col("toks_a").cast("double") * col("toks_b").cast("double"),
            lit(0.0))).as("tv_unigram"))
  }
}
