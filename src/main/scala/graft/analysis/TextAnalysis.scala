package graft.analysis

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language identification, and content
  * fingerprinting. Everything is built from codegen'd built-in expressions —
  * no UDFs — so the per-document cost is a single projection pass and the
  * operators scale linearly with document count (embarrassingly parallel, no
  * shuffle at all until a downstream aggregate).
  */
object TextAnalysis {

  /** Lowercase, strip non-alphanumerics, collapse whitespace — the canonical
    * normalization used before fingerprinting/dedup. */
  def normalized(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9\\s]", " "), "\\s+", " "))

  /** Whitespace tokens of the normalized text. */
  def tokens(text: Column): Column = split(normalized(text), " ")

  // NOTE (measured, round-11 second session): a "count tokens without the
  // array" rewrite — length(norm) - length(translate(norm,' ','')) + 1
  // behind a when() — was A/B-measured against size(array_remove(tokens))
  // on the 30x packing bench and came out 2.5x SLOWER (q256 43.97 -> 110.9
  // s, q263 14.11 -> 36.6 s, same corpus, same session): the when/length/
  // translate shape re-evaluates the normalizer's two regexes per
  // reference, and the regex dominates the scan — the array allocation it
  // saved was never the cost. Kept as a comment so the next "obvious"
  // optimization starts from the measurement.

  /** BPE-ish subword segmentation regex: words / digit runs / single symbols.
    * A real BPE vocab lookup is a dictionary join; the regex segmentation is
    * the standard cheap pre-tokenizer (same shape GPT-2's splitter uses). */
  val bpeTokenPattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"

  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpeTokenPattern), lit(0)))

  /** FLESCH READING EASE per document — the classic curation-side
    * readability score (206.835 − 1.015·words/sentences −
    * 84.6·syllables/words): too-low scores flag legalese/boilerplate,
    * implausibly high ones flag token salad; alongside [[qualitySignals]]
    * it is the standard cheap quality dimension quality classifiers are
    * distilled from.
    *
    * Syllables use the vowel-group heuristic: maximal [aeiouy]+ runs per
    * word, floored at 1 — integer-exact, engine-portable (no dictionary).
    * Sentences: maximal [.!?]+ runs on the RAW text (normalization strips
    * punctuation), floored at 1. All three inputs are exact integers, so
    * the score is deterministic IEEE on exact counts (the q218 recipe) and
    * the micro-quantized gate needs no margin spec.
    *
    * Scale shape: one projection (regex counts + one HOF sum over the
    * token array), no shuffle at all until a caller aggregates.
    * Output: doc_id, n_words, n_sents, n_syllables, flesch_micro. */
  def readability(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val toks = filter(tokens(col(textCol)), t => length(t) > 0)
    val words = size(toks)
    val sents = greatest(lit(1), size(regexp_extract_all(col(textCol),
      lit("[.!?]+"), lit(0))))
    val syll = aggregate(toks, lit(0L), (acc, t) =>
      acc + greatest(lit(1), size(regexp_extract_all(t, lit("[aeiouy]+"), lit(0)))))
    val f = lit(206.835) -
      lit(1.015) * (col("n_words").cast("double") / col("n_sents")) -
      lit(84.6) * (col("n_syllables").cast("double") / col("n_words"))
    docs.select(col(idCol).as("doc_id"), words.as("n_words"),
        sents.cast("long").as("n_sents"), syll.as("n_syllables"))
      .filter(col("n_words") > 0)
      .withColumn("flesch_micro",
        floor(f * lit(1e6) + lit(0.5)).cast("long"))
  }

  /** Per-document token statistics + heuristic quality score.
    * Output: doc_id, n_tokens, n_unique_tokens, n_bpe_tokens, avg_token_len,
    * stopword_ratio, quality_score, quality_band. */
  def textStats(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = tokens(col(textCol))
    val nTokens = size(toks)
    val stopHits = size(filter(toks, t => t.isin(stopwordsEn: _*)))
    docs.select(
        col(idCol),
        nTokens.as("n_tokens"),
        size(array_distinct(toks)).as("n_unique_tokens"),
        bpeTokenCount(col(textCol)).as("n_bpe_tokens"),
        round(length(concat_ws("", toks)).cast(DoubleType) / nTokens, 4).as("avg_token_len"),
        round(stopHits.cast(DoubleType) / nTokens, 4).as("stopword_ratio"))
      .withColumn("quality_score",
        // length band (0-40) + lexical diversity (0-40) + stopword sanity (0-20):
        // the standard cheap pre-filter shape for web-scale corpora
        round(
          least(col("n_tokens").cast(DoubleType) / 100.0, lit(1.0)) * 40.0
            + (col("n_unique_tokens").cast(DoubleType) / col("n_tokens")) * 40.0
            + when(col("stopword_ratio").between(0.01, 0.6), 20.0).otherwise(0.0),
          2))
      .withColumn("quality_band",
        when(col("quality_score") >= 60, "high")
          .when(col("quality_score") >= 35, "medium")
          .otherwise("low"))
  }

  /** Stopword-marker language ID: score each candidate language by marker-
    * token hits and take the argmax (fixed tie order). This is the cheap
    * n-gram/stopword heuristic family (van Noord's textcat shape) — exact
    * char-n-gram profiles would be a dictionary join against trained
    * profiles, same plumbing, heavier constants. */
  def langId(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // all four scores from ONE evaluation of the tokenizer: the token array
    // is let-bound through a single-element transform (the CSE-trap pattern;
    // see Dedup.shingles) and the per-language hit counts come out as one
    // array column
    def score(tks: Column, markers: Seq[String]): Column =
      size(filter(tks, t => t.isin(markers: _*)))
    val scoresArr = element_at(
      transform(array(tokens(col(textCol))), tks =>
        array(score(tks, markersEn), score(tks, markersDe),
          score(tks, markersEs), score(tks, markersFr))),
      1)
    // coalesce(…, 0): null text propagates null scores, which would fall
    // through every when() branch to the last otherwise — zeroing them
    // routes null/empty docs to 'unknown' instead
    val scored = docs
      .select(col(idCol), col("lang").as("lang_label"), scoresArr.as("__s"))
      .select(col(idCol), col("lang_label"),
        coalesce(element_at(col("__s"), 1), lit(0)).as("s_en"),
        coalesce(element_at(col("__s"), 2), lit(0)).as("s_de"),
        coalesce(element_at(col("__s"), 3), lit(0)).as("s_es"),
        coalesce(element_at(col("__s"), 4), lit(0)).as("s_fr"))
    scored.withColumn("guessed_lang",
      when(col("s_en") === 0 && col("s_de") === 0 && col("s_es") === 0 && col("s_fr") === 0, "unknown")
        .when(col("s_en") >= col("s_de") && col("s_en") >= col("s_es") && col("s_en") >= col("s_fr"), "en")
        .when(col("s_de") >= col("s_es") && col("s_de") >= col("s_fr"), "de")
        .when(col("s_es") >= col("s_fr"), "es")
        .otherwise("fr"))
  }

  /** Confusion-matrix rollup of [[langId]] against the labeled lang column. */
  def langIdConfusion(docs: DataFrame): DataFrame =
    langId(docs)
      .groupBy("lang_label", "guessed_lang")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang_label", "guessed_lang")

  /** Content fingerprint of the normalized text (md5 — stable across engines
    * and runs; use for exact dedup keys). */
  def fingerprint(text: Column): Column = md5(normalized(text))

  /** Bottom-k resemblance sketch: the k lexicographically smallest shingle
    * hashes. An edit touching m tokens perturbs at most p = m+shingleSize-1
    * shingles; in the worst case the edit both evicts p sketch members and
    * introduces p new small hashes that displace p more, so two sketches of
    * a lightly-edited document overlap in at least keep-2p elements —
    * compare sketches by overlap, not equality. */
  def robustSketch(text: Column, shingleSize: Int = 3, keep: Int = 8): Column =
    slice(array_sort(transform(Dedup.shingles(tokens(text), shingleSize), s => md5(s))), 1, keep)

  /** Collapsed single-value form of [[robustSketch]] for storage/equality
    * keys; equal only when the whole bottom-k agrees. */
  def robustFingerprint(text: Column, shingleSize: Int = 3, keep: Int = 8): Column =
    md5(concat_ws(",", robustSketch(text, shingleSize, keep)))

  /** Per-document repetition signals (the Gopher-rules quality family):
    * fraction of duplicated tokens / 2-grams / 3-grams, i.e.
    * `1 − distinct/total` per granularity. Machine-generated and boiler-
    * plate text scores high; clean prose stays low. A single projection
    * pass — arrays never leave the row, no explode, no shuffle. */
  def repetitionStats(
      docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    def dupFrac(arr: Column): Column = {
      val total = size(arr)
      when(total > 0,
        round(lit(1.0) - size(array_distinct(arr)).cast(DoubleType) / total, 4))
        .otherwise(0.0)
    }
    val toks = tokens(col(textCol))
    docs.select(
      col(idCol),
      size(toks).as("n_tokens"),
      dupFrac(toks).as("dup_token_frac"),
      dupFrac(Dedup.shingles(toks, 2)).as("dup_bigram_frac"),
      dupFrac(Dedup.shingles(toks, 3)).as("dup_trigram_frac"))
  }

  /** Per-document token Shannon entropy — the classic cheap perplexity
    * stand-in for quality filtering: machine-generated or templated text
    * has low entropy (few distinct tokens dominate), natural prose sits
    * high. Output: doc_id, n_tokens, n_distinct, token_entropy (bits,
    * round 4).
    *
    * Scale shape: explode → (doc, token) count → per-doc sum. Both
    * aggregates are map-side combinable (a doc's tokens are co-located in
    * its row), so the shuffle carries 〈(doc,token), count〉 partials and
    * then 〈doc, decimal〉 — never text. Entropy terms are cast to
    * DECIMAL(28,12) before the sum so it is shuffle-order-independent (the
    * q16 lesson: double sums reorder across engines and runs). */
  def tokenEntropy(
      docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 12)
    val counts = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(idCol, "tok").agg(count(lit(1)).as("c"))
    counts
      .groupBy(idCol)
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_distinct"),
        sum((col("c").cast(DoubleType) * log(2.0, col("c").cast(DoubleType)))
          .cast(dec)).as("clogc"))
      // H = log2(n) - (1/n)·Σ c·log2 c — one pass, no second join for p=c/n
      .select(col(idCol), col("n_tokens"), col("n_distinct"),
        round(log(2.0, col("n_tokens").cast(DoubleType)) -
          col("clogc").cast(DoubleType) / col("n_tokens").cast(DoubleType),
          4).as("token_entropy"))
  }

  /** Corpus-LM quality score: each document's mean unigram log-probability
    * under the corpus's own add-one-smoothed unigram model — the cheap
    * stand-in for the CCNet/KenLM perplexity filter every web-scale corpus
    * runs (far-off-distribution documents score low; templated/boilerplate
    * documents score deceptively high, which is why this pairs with
    * [[tokenEntropy]] rather than replacing it). p(t) = (c_t + 1)/(N + V).
    *
    * Scale shape: one token-count aggregate builds the model (vocab-sized),
    * the scoring join BROADCASTS the model to the token stream, and the
    * per-doc mean reduces 〈doc, decimal〉 pairs. The broadcast is the
    * round-11 adjudication result (PLANS.md round 11, BENCHSCALE11): at the
    * 100× decade the token-side shuffle+sort of the default SMJ spills and
    * goes superlinear (slope 1.16-1.25 measured on BOTH linear-vocab and
    * Heaps-vocab corpora — the round-10 vocabulary-growth hypothesis is
    * REFUTED); broadcast is the only measured slope-1.0 plan (75.0 vs
    * 99.9 s SMJ, 89.4 s shuffled-hash at 100×). That matches the
    * production shape: a CCNet/KenLM-style scoring model is BOUNDED
    * (fixed LM or df-cut vocab), so it fits a broadcast at any corpus
    * size; if a corpus-grown unbounded vocab ever outgrows it, drop the
    * hint and the same plan degrades to the measured-1.16 shuffle join
    * rather than breaking. The two model scalars (N, V) ride a broadcast
    * 1-row frame, so the whole thing is one lazy plan. Log terms are
    * DECIMAL-cast before summing (q16 lesson).
    * Output: doc_id, n_tokens, avg_logprob (round 6; null for empty docs). */
  def unigramLogProb(
      docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 12)
    val tok = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
    val freq = tok.groupBy("tok").agg(count(lit(1)).as("c"))
    val totals = freq.agg(sum("c").as("n"), count(lit(1)).as("v"))
    val scored = tok
      .join(broadcast(freq), "tok")
      .crossJoin(broadcast(totals))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        sum(log((col("c") + lit(1.0)) / (col("n") + col("v"))).cast(dec)).as("s"))
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        when(col("n_tokens") > 0,
          round(col("s").cast(DoubleType) / col("n_tokens").cast(DoubleType), 6))
          .as("avg_logprob"))
  }

  /** CCNET-SHAPED per-language corpus bucketing (Wenzek et al. 2020): rank
    * every document within its language by an LM-derived rarity score, cut
    * the ranking into head/middle/tail TERTILES, and keep head+middle —
    * the filter shape CommonCrawl-scale corpora (CCNet → CC-100 → many LLM
    * mixes) are built through. The score here is the add-one unigram
    * model's mean INVERSE probability in fixed point,
    * r = (Σ_t (N+V) div (c_t+1)) · 10⁶ div n_tokens — same model and same
    * monotone intent as [[unigramLogProb]]'s mean log-prob, but integer
    * end-to-end, so neither the score, the within-language rank, nor any
    * tertile boundary can flip across engine builds (no ln anywhere).
    *
    * Scale shape: the model join is [[unigramLogProb]]'s (narrow token
    * rows, vocab-sized model BROADCAST to the token stream — see the
    * round-11 measurement there: broadcast is the only slope-1.0 plan at
    * the 100× decade, the SMJ/shuffle alternatives spill superlinearly,
    * and the production CCNet model is bounded); the within-language rank
    * is a GLOBAL rank on (lang, score, id) via
    * [[graft.relational.Relational.distributedCumSum]] (range partition +
    * per-partition offsets — never a data-sized single-partition window)
    * minus per-language offsets from a language-cardinality-sized
    * cumulative count. Everything shuffles on token or id keys only.
    * Output: doc_id, lang, rarity_micro, lang_rank, n_lang, bucket, kept. */
  def rarityBuckets(
      docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      langCol: String = "lang"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
    val freq = tok.groupBy("tok").agg(count(lit(1)).as("c"))
    val totals = freq.agg(sum("c").as("n"), count(lit(1)).as("v"))
    val perDoc = tok.join(broadcast(freq), "tok").crossJoin(broadcast(totals))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        sum(expr("(n + v) div (c + 1)")).as("sr"))
      .select(col(idCol), expr("sr * 1000000 div n_tokens").as("rarity_micro"))
    val scored = docs.select(col(idCol), col(langCol).as("lang"))
      .join(perDoc, idCol)
    val ranked = graft.relational.Relational.distributedCumSum(
      scored, Seq("lang", "rarity_micro", idCol), Nil, rankCol = Some("grk"))
    // per-language offsets: cumulative counts over the LANGUAGE list — a
    // language-cardinality-sized window, not a data-sized one
    val offsets = scored.groupBy("lang").agg(count(lit(1)).as("n_lang"))
      .withColumn("off",
        coalesce(sum("n_lang").over(
          Window.orderBy("lang").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
    ranked.join(broadcast(offsets), "lang")
      .select(col(idCol), col("lang"), col("rarity_micro"),
        (col("grk") - col("off")).as("lang_rank"), col("n_lang"))
      .withColumn("bucket",
        when(col("lang_rank") * 3 <= col("n_lang"), "head")
          .when(col("lang_rank") * 3 <= col("n_lang") * 2, "middle")
          .otherwise("tail"))
      .withColumn("kept", col("bucket") =!= "tail")
  }

  /** Bigram-LM cross-entropy — the context-aware upgrade of
    * [[unigramLogProb]] and the closest SQL-expressible relative of the
    * CCNet/KenLM perplexity filter: score each document by its mean
    * negative log-likelihood under the corpus's own add-α smoothed bigram
    * model, p(w₂|w₁) = (c₁₂ + α)/(c₁ + αV). Unigram scoring can't see word
    * ORDER (a shuffled document scores identically); this can — scrambled,
    * templated, or machine-garbled text lands in the high-NLL tail.
    * Perplexity is e^avg_nll for anyone who wants the KenLM unit.
    *
    * Scale shape: the bigram model is one grouped count over 〈w₁,w₂〉
    * (corpus-bigram-bounded, stays distributed — never a driver-side
    * vocabulary), history counts reduce from it, and scoring re-joins the
    * doc bigrams on the pair key; only narrow token tuples shuffle, never
    * text. V rides a broadcast 1-row frame. Log terms DECIMAL-cast before
    * summing (q16 lesson). Docs with < 2 tokens have no bigrams → null
    * score, n_bigrams 0.
    * Output: doc_id, n_bigrams, avg_nll (round 6; null for short docs). */
  def bigramLogProb(
      docs: DataFrame, alpha: Double = 0.5,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(alpha > 0, s"need alpha > 0, got $alpha")
    val dec = org.apache.spark.sql.types.DecimalType(28, 12)
    val arr = docs
      .select(col(idCol), array_remove(tokens(col(textCol)), "").as("t"))
    val bg = arr.filter(size(col("t")) >= 2)
      .select(col(idCol),
        explode(transform(sequence(lit(0), size(col("t")) - 2),
          i => struct(element_at(col("t"), i + 1).as("w1"),
            element_at(col("t"), i + 2).as("w2")))).as("b"))
      .select(col(idCol), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c12 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy("w1").agg(sum("c12").as("c1"))
    val vocab = arr.select(explode(col("t")).as("tok"))
      .agg(countDistinct("tok").as("v"))
    val scored = bg
      .join(c12, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        sum(log((col("c12") + lit(alpha)) / (col("c1") + lit(alpha) * col("v")))
          .cast(dec)).as("s"))
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        when(col("n_bigrams") > 0,
          round(-col("s").cast(DoubleType) / col("n_bigrams").cast(DoubleType), 6))
          .as("avg_nll"))
  }

  /** DICTIONARY TAGGING (the FlashText/keyword-processor shape at token
    * granularity): count occurrences of a controlled vocabulary per
    * document — entity lists, topic lexicons, policy terms. The dictionary
    * rides the plan as a broadcast literal set inside one codegen'd
    * projection; the filter runs BEFORE the explode, so the shuffle
    * carries dictionary hits only, never full token streams — at 100 TB
    * the cost is the scan plus a hits-sized aggregate.
    *
    * Docs with zero hits are absent (report-shaped output; left-join the
    * doc spine in the caller if a dense frame is needed).
    * Output: idCol, term, n_occ. */
  def dictionaryTags(
      docs: DataFrame,
      dict: Seq[String],
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(dict.nonEmpty, "need a non-empty dictionary")
    val hits = filter(array_remove(tokens(col(textCol)), ""),
      x => x.isin(dict: _*))
    docs.select(col(idCol), explode(hits).as("term"))
      .groupBy(idCol, "term").agg(count(lit(1)).as("n_occ"))
  }

  /** STUPID-BACKOFF bigram scoring (Brants et al. 2007, "Large Language
    * Models in Machine Translation"): score a held-out slice under counts
    * from a training slice — S(w₂|w₁) = c(w₁w₂)/c(w₁) when the bigram was
    * seen, else λ·c(w₂)/N when the unigram was, else the λ²/N floor for
    * unknown words. The web-scale LM scorer that deliberately skips
    * normalization: every score is a ratio of exact integer counts times
    * the λ constant — NO libm anywhere, bit-identical across engines
    * (unlike [[bigramLogProb]]'s smoothed log-probs, and the reason this
    * variant won at Google scale: counts shard trivially).
    *
    * Scale shape: model counts are two map-side-combinable aggregates
    * (vocabulary / bigram-vocabulary sized); scoring joins the eval
    * bigrams against them on their natural keys (the bigram join is the
    * big one — both sides hash-partition on (w1,w2)); N rides a 1-row
    * broadcast. Per-doc means are DECIMAL-summed.
    *
    * Output per eval doc: doc_id, n_bigrams, hit_rate (round 6; fraction
    * of bigrams found in the model), mean_score (round 6). */
  def stupidBackoff(
      train: DataFrame, evalDocs: DataFrame, lambda: Double = 0.4,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(lambda > 0 && lambda < 1, s"need lambda in (0,1), got $lambda")
    val dec = org.apache.spark.sql.types.DecimalType(28, 12)
    def arr(df: DataFrame) =
      df.select(col(idCol), array_remove(tokens(col(textCol)), "").as("t"))
    def bigrams(df: DataFrame) = arr(df).filter(size(col("t")) >= 2)
      .select(col(idCol),
        explode(transform(sequence(lit(0), size(col("t")) - 2),
          i => struct(element_at(col("t"), i + 1).as("w1"),
            element_at(col("t"), i + 2).as("w2")))).as("b"))
      .select(col(idCol), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val uni = arr(train).select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cu"))
    val tot = uni.agg(sum("cu").as("n_total"))
    val c12 = bigrams(train).groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val scored = bigrams(evalDocs)
      .join(c12, Seq("w1", "w2"), "left")
      .join(uni.select(col("w").as("w1"), col("cu").as("c1")), Seq("w1"), "left")
      .join(uni.select(col("w").as("w2"), col("cu").as("c2")), Seq("w2"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("hit", when(col("c12").isNotNull, 1L).otherwise(0L))
      .withColumn("s",
        when(col("c12").isNotNull,
          col("c12").cast(DoubleType) / col("c1").cast(DoubleType))
          .when(col("c2").isNotNull,
            lit(lambda) * col("c2").cast(DoubleType) / col("n_total").cast(DoubleType))
          .otherwise(lit(lambda) * lit(lambda) / col("n_total").cast(DoubleType)))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"), sum(col("hit")).as("n_hits"),
        sum(col("s").cast(dec)).as("s"))
    evalDocs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        when(col("n_bigrams") > 0,
          round(col("n_hits").cast(DoubleType) / col("n_bigrams").cast(DoubleType), 6))
          .as("hit_rate"),
        when(col("n_bigrams") > 0,
          round(col("s").cast(DoubleType) / col("n_bigrams").cast(DoubleType), 6))
          .as("mean_score"))
  }

  /** INTERPOLATED KNESER–NEY bigram scoring (Kneser & Ney 1995; Chen &
    * Goodman 1998's interpolated form) — the smoothing that completes the
    * LM family here: [[bigramLogProb]] is add-α, [[stupidBackoff]] skips
    * normalization, Good–Turing (q200/q213) reweights counts; KN is the
    * one that models CONTINUATION diversity (how many contexts a word
    * follows) and is what production n-gram LMs (KenLM, the CCNet
    * perplexity filter's scorer) actually ship.
    *
    *   P(w₂|w₁) = max(c(w₁w₂) − D, 0)/c(w₁)
    *            + D·N₁₊(w₁,·)/c(w₁) · N₁₊(·,w₂)/N₁₊(·,·)
    *
    * With the textbook discount D = 3/4 every probability is a ratio of
    * exact integer counts: P = [max(4c₁₂−3,0)·N₊₊ + 3·N₁₊(w₁,·)·N₁₊(·,w₂)]
    * / [4·c(w₁)·N₊₊]. The score is quantized to parts-per-billion by
    * round-half-up integer division — numerators widen to DECIMAL(38,0)
    * (the oracle's HUGEINT) because 4·c₁₂·N₊₊·2e9 overflows BIGINT at
    * corpus scale, the q246/lofLattice posture. Unseen history (c(w₁)=0)
    * backs off to the continuation distribution N₁₊(·,w₂)/N₁₊(·,·) with
    * weight 1 — the standard unigram-KN fallback; a w₂ never seen as a
    * continuation scores 0.
    *
    * Scale shape: model counts are three vocabulary/bigram-vocabulary
    * sized map-side-combinable aggregates off the train slice; N₊₊ rides
    * a 1-row broadcast; scoring hash-joins the eval bigrams on their
    * natural keys (the (w₁,w₂) join is the big one). Per-doc sums are
    * exact BIGINT (each ppb score ≤ 1e9).
    * Output per eval doc: idCol, n_bigrams, n_hits (bigrams found in the
    * model), mean_score_ppb (round-half-up mean; null for docs with no
    * bigrams). */
  def kneserNeyBigram(
      train: DataFrame, evalDocs: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    kneserNeyFromModel(kneserNeyModel(train, textCol, idCol), evalDocs,
      textCol, idCol)

  /** [[kneserNeyBigram]]'s MERGEABLE model artifact: the exact bigram
    * count table 〈w1, w2, c12〉 — the ONLY state KN needs (history counts,
    * continuation counts, and the normalizer all derive from it), and it
    * merges across disjoint training slices by per-bigram ADDITION
    * ([[kneserNeyMergeModels]]). q261 gates the law: shard-counted models
    * merged then read out ≡ the whole-corpus rebuild — how n-gram LM
    * counting actually shards at scale (the Brants et al. / KenLM
    * map-reduce shape). */
  def kneserNeyModel(
      train: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docBigrams(train, textCol, idCol)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))

  /** Merge per-slice KN models by per-bigram addition. */
  def kneserNeyMergeModels(models: DataFrame*): DataFrame =
    models.reduce(_ unionByName _)
      .groupBy("w1", "w2").agg(sum("c12").as("c12"))

  /** Per-doc bigram stream 〈idCol, w1, w2〉 (shared by the KN model and
    * its scorer). */
  private def docBigrams(
      df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol), array_remove(tokens(col(textCol)), "").as("t"))
      .filter(size(col("t")) >= 2)
      .select(col(idCol),
        explode(transform(sequence(lit(0), size(col("t")) - 2),
          i => struct(element_at(col("t"), i + 1).as("w1"),
            element_at(col("t"), i + 2).as("w2")))).as("b"))
      .select(col(idCol), col("b.w1").as("w1"), col("b.w2").as("w2"))

  /** Readout half of [[kneserNeyBigram]]: scoring off a (possibly merged)
    * model artifact. */
  def kneserNeyFromModel(
      model: DataFrame, evalDocs: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    def bigrams(df: DataFrame) = docBigrams(df, textCol, idCol)
    val c12 = model
      .localCheckpoint(true) // feeds c1, n1pW1, ncW2, npp AND the score join
    val c1 = c12.groupBy("w1")
      .agg(sum("c12").as("c1"), count(lit(1)).as("n1p"))
    val ncW2 = c12.groupBy("w2").agg(count(lit(1)).as("nc"))
    val npp = c12.agg(count(lit(1)).as("npp"))
    val scored = bigrams(evalDocs)
      .join(c12, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .join(ncW2, Seq("w2"), "left")
      .crossJoin(broadcast(npp))
      .withColumn("hit", when(col("c12").isNotNull, 1L).otherwise(0L))
      // seen history: the interpolated-KN rational; unseen history: the
      // continuation distribution itself (weight-1 backoff)
      .withColumn("num",
        when(col("c1").isNotNull,
          greatest(lit(4) * coalesce(col("c12"), lit(0L)) - 3, lit(0L))
            .cast("decimal(38,0)") * col("npp") +
            lit(3) * coalesce(col("n1p"), lit(0L)).cast("decimal(38,0)") *
              coalesce(col("nc"), lit(0L)))
          .otherwise(coalesce(col("nc"), lit(0L)).cast("decimal(38,0)")))
      .withColumn("den",
        when(col("c1").isNotNull,
          lit(4) * col("c1").cast("decimal(38,0)") * col("npp"))
          .otherwise(col("npp").cast("decimal(38,0)")))
      // npp = 0 (an empty train slice) zeroes every denominator — score 0
      // instead of an ANSI divide-by-zero
      .withColumn("score_ppb",
        when(col("npp") > 0,
          expr("(num * 2000000000 + den) div (2 * den)")).otherwise(lit(0L)))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"), sum("hit").as("n_hits"),
        sum("score_ppb").as("s"))
    evalDocs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        when(col("n_bigrams") > 0,
          // DECIMAL(38,0) before the ×2 — the oracle's HUGEINT; ppb sums
          // pass Long.MaxValue/2 at ~4.6e9 bigrams per doc (the q246
          // widening posture)
          expr("(CAST(s AS DECIMAL(38,0)) * 2 + n_bigrams) div (2 * n_bigrams)"))
          .as("mean_score_ppb"))
  }

  /** ROUGE-N (Lin 2004) over candidate/reference document pairs — the
    * clipped n-gram precision/recall/F the summarization, distillation,
    * and synthetic-data-vs-source eval loops score at corpus scale. Per
    * pair: candidate and reference n-gram MULTISET counts, overlap
    * clipped per gram to min(count_cand, count_ref) — so repeating a
    * reference gram in the candidate is only rewarded as often as the
    * reference contains it (the property that separates ROUGE from raw
    * overlap and defeats degenerate repetition). P = o/c, R = o/r,
    * F1 = 2o/(c+r) — ratios of exact integers, ppm round-half-up, no
    * libm anywhere.
    *
    * Scale shape: two per-pair gram-count aggregates (map-side combinable
    * — a pair's grams co-locate with its row), one full-outer hash join
    * keyed (pair, gram) carrying gram counts only (never text), one
    * per-pair rollup. Pairs with an empty side report null for the
    * undefined ratio.
    * Output per pair: idCol, n_cand_grams, n_ref_grams, n_overlap,
    * p_ppm, r_ppm, f1_ppm. */
  def rougeN(
      pairs: DataFrame, n: Int = 2,
      candCol: String = "cand", refCol: String = "ref",
      idCol: String = "pair_id"): DataFrame = {
    require(n >= 1, s"need n >= 1, got $n")
    def grams(c: Column) = Dedup.shingles(array_remove(tokens(c), ""), n)
    def counts(c: Column, out: String) = pairs
      .select(col(idCol), explode(grams(c)).as("g"))
      .groupBy(idCol, "g").agg(count(lit(1)).as(out))
    val cand = counts(col(candCol), "ca").localCheckpoint(true)
    val ref = counts(col(refCol), "cr").localCheckpoint(true)
    // per-side totals and the INNER-join clipped overlap (min with an
    // absent side is 0, so outer rows contribute nothing), all anchored
    // on the pair spine with left joins — deliberately no FULL OUTER
    // JOIN, the construct the q180 oracle saga showed engines disagree
    // on under pushdown
    pairs.select(col(idCol))
      .join(cand.groupBy(idCol).agg(sum("ca").as("c")), Seq(idCol), "left")
      .join(ref.groupBy(idCol).agg(sum("cr").as("r")), Seq(idCol), "left")
      .join(cand.join(ref, Seq(idCol, "g"))
          .groupBy(idCol).agg(sum(least(col("ca"), col("cr"))).as("o")),
        Seq(idCol), "left")
      .select(col(idCol), coalesce(col("c"), lit(0L)).as("c"),
        coalesce(col("r"), lit(0L)).as("r"), coalesce(col("o"), lit(0L)).as("o"))
      .select(col(idCol),
        col("c").as("n_cand_grams"),
        col("r").as("n_ref_grams"),
        col("o").as("n_overlap"),
        when(col("c") > 0, expr("(o * 2000000 + c) div (2 * c)")).as("p_ppm"),
        when(col("r") > 0, expr("(o * 2000000 + r) div (2 * r)")).as("r_ppm"),
        when(col("c") + col("r") > 0,
          expr("(o * 4000000 + (c + r)) div (2 * (c + r))")).as("f1_ppm"))
  }

  /** SELF-BLEU-n diversity monitor (Zhu et al. 2018, Texygen) — each
    * document scored as BLEU's clipped n-gram precision against the REST
    * of the corpus as references: for every gram the clip is the highest
    * count any OTHER document has for it, so a document only scores high
    * when its n-grams are things other documents also say. The corpus
    * health gauge for synthetic/generated data (rising self-BLEU = mode
    * collapse) that complements [[ngramNovelty]] (which only asks who said
    * it FIRST) and [[rougeN]] (which scores designated pairs).
    *
    * Exact integers end-to-end: the "max over other documents" is derived
    * from the per-gram top-2 (count, doc) — for the argmax document the
    * clip is the runner-up count, for everyone else it is the maximum —
    * so no per-doc-pair work ever happens: two gram-keyed aggregates, one
    * join back, one per-doc rollup. Ratio ppm round-half-up.
    * Output per doc: idCol, n_grams, n_clipped, self_bleu_ppm (null for
    * docs with no n-grams). */
  def selfBleu(
      docs: DataFrame, n: Int = 2,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(n >= 1, s"need n >= 1, got $n")
    val gd = docs
      .select(col(idCol),
        explode(Dedup.shingles(array_remove(tokens(col(textCol)), ""), n)).as("g"))
      .groupBy(idCol, "g").agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // feeds m1, m2, AND the clip join
    val m1 = gd.groupBy("g")
      .agg(max(struct(col("c"), col(idCol).as("d"))).as("m"))
      .select(col("g"), col("m.c").as("c1"), col("m.d").as("d1"))
      .localCheckpoint(true) // feeds m2 AND the clip join
    val m2 = gd.join(m1, "g")
      .filter(!(col("c") === col("c1") && col(idCol) === col("d1")))
      .groupBy("g").agg(max("c").as("c2"))
    val clipped = gd.join(m1, "g").join(m2, Seq("g"), "left")
      .select(col(idCol), col("c"),
        least(col("c"),
          when(col(idCol) === col("d1"), coalesce(col("c2"), lit(0L)))
            .otherwise(col("c1"))).as("clip"))
      .groupBy(idCol)
      .agg(sum("c").as("ng"), sum("clip").as("no"))
    docs.select(col(idCol)).join(clipped, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("ng"), lit(0L)).as("n_grams"),
        coalesce(col("no"), lit(0L)).as("n_clipped"),
        when(col("ng") > 0, expr("(no * 2000000 + ng) div (2 * ng)"))
          .as("self_bleu_ppm"))
  }

  /** The first BPE merge step: corpus-wide adjacent character-pair
    * frequencies, weighted by word frequency — exactly the statistic a BPE
    * tokenizer trainer maximizes per merge round (Sennrich et al.; a full
    * trainer iterates merge → re-segment, each round this same aggregate
    * over the current symbol sequences). Top-k candidates by total count,
    * deterministic (count desc, pair asc) tie-break.
    *
    * Scale shape: tokens aggregate to 〈word, freq〉 FIRST (vocabulary-sized
    * — this is what makes BPE training tractable: pair counting is over the
    * vocab weighted by freq, never over the corpus), then each distinct
    * word explodes into its ≤ len−1 pairs; the shuffle carries 〈pair,
    * partial〉 rows. Output: pair, n_words, total_count. */
  def bpeMergeCandidates(
      docs: DataFrame, k: Int = 20,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val words = docs
      .select(explode(tokens(col(textCol))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("freq"))
    words
      .filter(length(col("w")) >= 2)
      .select(col("w"), col("freq"),
        explode(transform(sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy("pair")
      .agg(count(lit(1)).as("n_words"), sum("freq").as("total_count"))
      .orderBy(desc("total_count"), col("pair"))
      .limit(k)
  }

  /** ITERATED BPE trainer (Sennrich et al. 2016) — the loop
    * [[bpeMergeCandidates]] is one round of: count adjacent symbol pairs
    * over the frequency-weighted vocabulary, adopt the best pair
    * (count desc, pair asc — the deterministic argmax), re-segment the
    * VOCABULARY (never the corpus — this is what makes BPE training
    * tractable at any corpus size: after the initial word count, every
    * round touches only vocab-sized state), repeat. Returns the merge
    * TABLE — the artifact a BPE tokenizer ships: (round, pair, n_words,
    * total_count) per adopted merge.
    *
    * Merging is the classic greedy left-to-right non-overlapping scan.
    * Overlap is only possible when the pair is a doubled symbol (a, a) —
    * for (a, b) with a ≠ b two matches can never share a position — so
    * occurrence i of the match list merges iff the run of consecutive
    * matches immediately before it has EVEN length ("aaaa" → aa+aa,
    * "aaa" → aa+a). That closed form lets the re-segmentation be pure
    * LIST expressions (transform/filter/max), written STRUCTURALLY
    * IDENTICALLY in the DuckDB oracle — no fold, no window, nothing an
    * engine can reorder.
    *
    * The adopted pair is driver-collected each round (1 row — the
    * codebook/centroid plan-literal pattern) and the vocab is eagerly
    * checkpointed per round (the Graphs.hits plan-blowup lesson).
    * Output: round, pair ("a b"), n_words, total_count — all
    * BIGINT/STRING. Stops early if no pair remains. */
  def bpeTrain(
      docs: DataFrame, merges: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeTrainLoop(docs, merges, textCol)._1
      .toDF("round", "pair", "n_words", "total_count")
      .orderBy("round")
  }

  /** The shared Sennrich trainer loop behind [[bpeTrain]] and
    * [[bpeCompressionCurve]]: returns the adopted merge rows AND every
    * intermediate vocabulary state s₀..s_R (each localCheckpointed —
    * vocab-sized, referenced again by the curve's per-round readout). */
  private def bpeTrainLoop(
      docs: DataFrame, merges: Int, textCol: String)
      : (Seq[(Long, String, Long, Long)], Vector[DataFrame]) = {
    require(merges >= 1, s"need merges >= 1, got $merges")
    var vocab = docs
      .select(explode(tokens(col(textCol))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(col("w"), col("freq"), split(col("w"), "").as("syms"))
      .localCheckpoint(true)
    val states = Vector.newBuilder[DataFrame]
    states += vocab
    val adopted = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long, Long)]
    var r = 1
    var exhausted = false
    while (r <= merges && !exhausted) {
      val best = vocab
        .filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(transform(
            sequence(lit(0), size(col("syms")) - 2),
            i => concat_ws(" ",
              element_at(col("syms"), (i + 1).cast("int")),
              element_at(col("syms"), (i + 2).cast("int"))))).as("pair"))
        .groupBy("pair")
        .agg(count(lit(1)).as("n_words"), sum("freq").as("total_count"))
        .orderBy(desc("total_count"), col("pair"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val row = best.head
        adopted += ((r.toLong, row.getString(0), row.getLong(1), row.getLong(2)))
        val Array(a, b) = row.getString(0).split(" ", 2)
        vocab = vocab
          .withColumn("syms", bpeMergeOnce(col("syms"), a, b))
          .localCheckpoint(true)
        states += vocab
      }
      r += 1
    }
    (adopted.toSeq, states.result())
  }

  /** TOKENIZER COMPRESSION CURVE — corpus-level fertility as a function
    * of merge-table size m = 0..`merges` (the tokens-per-word vs vocab
    * size plot every tokenizer paper reports, and the artifact that
    * answers "how many merges does this corpus need"): re-reads each
    * trainer state s_m ([[bpeTrainLoop]] — segmenting with the first m
    * merges of a trained table IS state s_m for in-vocabulary words, the
    * q255 ascending-rank argument) and aggregates frequency-weighted
    * symbol counts. m = 0 is the character baseline, so the curve starts
    * at mean word length and decreases toward 1.0 as merges are added.
    *
    * Scale shape: the corpus is touched ONCE (the initial word count);
    * each curve point is one vocabulary-sized aggregate off a
    * checkpointed state. Output per m: m, n_words (corpus word
    * occurrences — constant down the curve by construction), n_bpe_tokens
    * (frequency-weighted symbols under s_m), fertility_ppm (round-half-up
    * BPE tokens per word). */
  /** TOKENIZER-FAMILY comparison — the report real tokenizer evaluations
    * ship: the trio (BPE q252, WordPiece q279, unigram-LM q271) trained
    * on the SAME train slice at the SAME budget (`budget` multi-char
    * units each: merges for the merge trainers, budgetMulti for unigram),
    * then evaluated on the SAME held-out slice (doc_id % evalMod = 0):
    * freq-weighted fertility (pieces per word, round-half-up ppm) and the
    * whole-word rate (occurrences encoding to a single piece).
    *
    * Comparability contract: the holdout word set is identical across
    * families — words whose every character appears in a TRAINABLE
    * (≤ maxWordLen) train word, i.e. the unigram trainer's alphabet, the
    * binding constraint (the merge trainers can char-split anything).
    * Unigram over-length words char-fallback per its encoder contract —
    * a REAL family asymmetry the report is meant to surface.
    *
    * Scale shape: three vocabulary-sized trainer runs over the train
    * slice (each already decade-measured: q252/q279/q271), one holdout
    * word count, and three vocabulary-sized segmentation joins — the
    * holdout corpus is scanned once. Output per family: family, n_words,
    * n_pieces, fertility_ppm, whole_word_ppm. */
  def tokenizerFamilyComparison(
      docs: DataFrame,
      budget: Int = 3,
      evalMod: Int = 17,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    familyComparison(docs, budget, evalMod, textCol, idCol, byteFallback = false)

  /** [[tokenizerFamilyComparison]] on the UNRESTRICTED holdout — the
    * production form: instead of excluding holdout words containing
    * characters outside the unigram alphabet (the eligibility contract
    * above), every family answers them with BYTE FALLBACK, the way real
    * tokenizers ship (SentencePiece `byte_fallback`). The merge families
    * need no special case — a learned merge can never contain an
    * untrained character, so OOV characters simply survive the fold as
    * single (byte) pieces; the unigram arm uses
    * [[UnigramLM.segmentWordCountsFallback]] (whole-word byte fallback,
    * the q272 encoder contract extended to OOV-char words). Fertility and
    * whole-word rate are thus defined for EVERY holdout word. */
  def tokenizerFamilyComparisonFallback(
      docs: DataFrame,
      budget: Int = 3,
      evalMod: Int = 17,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    familyComparison(docs, budget, evalMod, textCol, idCol, byteFallback = true)

  private def familyComparison(
      docs: DataFrame,
      budget: Int,
      evalMod: Int,
      textCol: String,
      idCol: String,
      byteFallback: Boolean): DataFrame = {
    require(budget >= 1 && evalMod >= 2,
      s"need budget >= 1 and evalMod >= 2, got $budget/$evalMod")
    val train = docs.filter(col(idCol) % evalMod =!= 0)
    val hold = docs.filter(col(idCol) % evalMod === 0)
    val uniParams = UnigramLM.Params(budgetMulti = budget)
    val uniModel = UnigramLM.unigramTrain(train, uniParams, textCol)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val alphabet = uniModel.keysIterator.filter(_.length == 1).toSeq.sorted
    // EAGER materialization (not a lazy persist): the three family
    // readouts each collect through hw at result time, after any
    // persist/unpersist pair here has gone out of scope — a plain
    // persist() would recompute the holdout word count once per family
    val hw0 = hold
      .select(explode(array_remove(tokens(col(textCol)), "")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
    val hw = (if (byteFallback) hw0
              else hw0.filter(forall(split(col("w"), ""),
                c => c === lit("") || c.isin(alphabet: _*))))
      .localCheckpoint(true)
    locally {
      val bpeMerges = bpeTrain(train, budget, textCol)
        .collect().map(_.getString(1)).toSeq
      val wpMerges = wordpieceTrain(train, budget, textCol)
        .collect().map(_.getString(1)).toSeq
      def readout(name: String, seg: DataFrame): DataFrame =
        hw.join(broadcast(seg), Seq("w"))
          .agg(coalesce(sum("freq"), lit(0L)).as("n_words"),
            coalesce(sum(col("freq") * col("np")), lit(0L)).as("n_pieces"),
            coalesce(sum(when(col("np") === 1, col("freq")).otherwise(lit(0L))),
              lit(0L)).as("n_whole"))
          .select(lit(name).as("family"), col("n_words"), col("n_pieces"),
            when(col("n_words") > 0,
              expr("(n_pieces * 2000000 + n_words) div (2 * n_words)"))
              .as("fertility_ppm"),
            when(col("n_words") > 0,
              expr("(n_whole * 2000000 + n_words) div (2 * n_words)"))
              .as("whole_word_ppm"))
      val uniSeg =
        if (byteFallback) UnigramLM.segmentWordCountsFallback(hw, uniModel, uniParams)
        else UnigramLM.segmentWordCounts(hw, uniModel, uniParams)
      readout("bpe", bpeSegmentCounts(hw, bpeMerges))
        .unionByName(readout("unigram", uniSeg))
        .unionByName(readout("wordpiece", bpeSegmentCounts(hw, wpMerges)))
        .orderBy("family")
    }
  }

  def bpeCompressionCurve(
      docs: DataFrame, merges: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val (_, states) = bpeTrainLoop(docs, merges, textCol)
    // exhausted trainer (no pair left before round R): the curve plateaus
    // at the final state rather than truncating — matching the oracle's
    // no-op rounds (empty argmax ⇒ s_r = s_{r-1})
    states.padTo(merges + 1, states.last).zipWithIndex.map { case (v, m) =>
      v.agg(sum("freq").as("n_words"),
          sum(col("freq") * size(col("syms"))).as("n_bpe_tokens"))
        .select(lit(m.toLong).as("m"),
          coalesce(col("n_words"), lit(0L)).as("n_words"),
          coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"),
          when(col("n_words") > 0,
            expr("(n_bpe_tokens * 2000000 + n_words) div (2 * n_words)"))
            .as("fertility_ppm"))
    }.reduce(_ unionByName _).orderBy("m")
  }

  /** BPE ENCODER: apply a trained merge table ([[bpeTrain]]'s `pair`
    * column, training order) to text — the inference half that completes
    * train → encode. Applying each merge exhaustively IN TRAINING ORDER
    * equals the classic lowest-rank-first loop: a merge can only create
    * pairs involving its new symbol, and any pair containing a symbol
    * born at rank r was necessarily learned AFTER r — so ascending-rank
    * sequential application never misses a lower-rank opportunity.
    * Works on out-of-vocabulary words (they simply stop merging early).
    *
    * Scale shape: segmentation runs once per DISTINCT word (the same
    * vocabulary-sized trick as training — the corpus pass is one word
    * count + one vocab join), merges fold as the [[bpeMergeOnce]] list
    * expressions. Output per doc: idCol, n_words, n_bpe_tokens,
    * fertility_ppm (round-half-up BPE tokens per word; null for empty
    * docs) — the trained-tokenizer upgrade of q189's heuristic
    * fertility. */
  /** Per-DISTINCT-word segmentation length under a trained merge list —
    * [[bpeEncode]]'s vocabulary-sized core, exposed so readouts over a
    * DIFFERENT corpus slice (q286's holdout) run the identical sequential
    * merge fold. Input: any frame with a `w` column; output 〈w, np〉. */
  def bpeSegmentCounts(words: DataFrame, merges: Seq[String]): DataFrame = {
    val pairs = merges.map { m =>
      val Array(a, b) = m.split(" ", 2)
      (a, b)
    }
    pairs.foldLeft(
        words.select("w").distinct()
          .withColumn("syms", split(col("w"), ""))) {
        case (df, (a, b)) => df.withColumn("syms", bpeMergeOnce(col("syms"), a, b))
      }
      .select(col("w"), size(col("syms")).cast("long").as("np"))
  }

  def bpeEncode(
      docs: DataFrame, merges: Seq[String],
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val tok = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("w"))
      .filter(col("w") =!= "")
    val perDocWord = tok.groupBy(idCol, "w").agg(count(lit(1)).as("c"))
    val seg = bpeSegmentCounts(tok, merges)
      .withColumnRenamed("np", "n_syms")
    val perDoc = perDocWord.join(broadcast(seg), "w")
      .groupBy(idCol)
      .agg(sum("c").as("n_words"),
        sum(col("c") * col("n_syms")).as("n_bpe_tokens"))
    docs.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"),
        when(col("n_words") > 0,
          expr("(n_bpe_tokens * 2000000 + n_words) div (2 * n_words)"))
          .as("fertility_ppm"))
  }

  /** ITERATED WORDPIECE trainer (Schuster & Nakajima 2012, the
    * BERT-tokenizer recipe) — [[bpeTrain]]'s loop with the other argmax:
    * instead of adopting the most FREQUENT adjacent pair, adopt the pair
    * maximizing the likelihood-ratio score count(ab)/(count(a)·count(b))
    * — the merge that most increases a unigram LM's corpus likelihood,
    * which prefers strongly-associated pairs over merely-common ones.
    * Everything else (vocabulary-only re-segmentation, greedy
    * non-overlapping merges as pure list expressions, per-round
    * checkpoints, driver-collected 1-row argmax) is the shared BPE
    * machinery, and the oracle shares the BPE round chain with only the
    * b-CTE swapped (SparkEntry.mergeTrainerCtes).
    *
    * Determinism: the score is ONE double expression — CAST(total AS
    * DOUBLE) / (CAST(cnt_a AS DOUBLE) * CAST(cnt_b AS DOUBLE)) — on exact
    * integer inputs, identical bits on any IEEE engine (the ratio-
    * quantization argument); exact score ties break on pair ASC. The
    * double never reaches the output: emitted columns are the adopted
    * pair and its exact integer counts.
    * Output: round, pair, n_words, total_count, cnt_a, cnt_b. */
  def wordpieceTrain(
      docs: DataFrame, merges: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(merges >= 1, s"need merges >= 1, got $merges")
    var vocab = docs
      .select(explode(tokens(col(textCol))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(col("w"), col("freq"), split(col("w"), "").as("syms"))
      .localCheckpoint(true)
    val adopted =
      scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long, Long, Long, Long)]
    var r = 1
    var exhausted = false
    while (r <= merges && !exhausted) {
      val symCnt = vocab
        .select(col("freq"), explode(col("syms")).as("sym"))
        .groupBy("sym").agg(sum("freq").as("cnt"))
      val best = vocab
        .filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(transform(
            sequence(lit(0), size(col("syms")) - 2),
            i => concat_ws(" ",
              element_at(col("syms"), (i + 1).cast("int")),
              element_at(col("syms"), (i + 2).cast("int"))))).as("pair"))
        .groupBy("pair")
        .agg(count(lit(1)).as("n_words"), sum("freq").as("total_count"))
        .withColumn("pa", split(col("pair"), " ").getItem(0))
        .withColumn("pb", split(col("pair"), " ").getItem(1))
        .join(symCnt.select(col("sym").as("pa"), col("cnt").as("ca")), "pa")
        .join(symCnt.select(col("sym").as("pb"), col("cnt").as("cb")), "pb")
        .orderBy(
          (col("total_count").cast("double") /
            (col("ca").cast("double") * col("cb").cast("double"))).desc,
          col("pair"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val row = best.head
        adopted += ((r.toLong, row.getAs[String]("pair"),
          row.getAs[Long]("n_words"), row.getAs[Long]("total_count"),
          row.getAs[Long]("ca"), row.getAs[Long]("cb")))
        val Array(a, b) = row.getAs[String]("pair").split(" ", 2)
        vocab = vocab
          .withColumn("syms", bpeMergeOnce(col("syms"), a, b))
          .localCheckpoint(true)
      }
      r += 1
    }
    adopted.toSeq
      .toDF("round", "pair", "n_words", "total_count", "cnt_a", "cnt_b")
      .orderBy("round")
  }

  /** One greedy left-to-right merge of (a, b) over a symbol array, as
    * pure list expressions (see [[bpeTrain]]): match list → even-run
    * merge positions → emit merged/survivor symbols, drop consumed ones.
    * The backward run-length scan is O(len²) per word — vocabulary-sized
    * work on ≤ word-length lists, irrelevant next to the corpus pass. */
  private def bpeMergeOnce(syms: Column, a: String, b: String): Column = {
    val n = size(syms)
    def at(arr: Column, i: Column): Column = element_at(arr, (i + 1).cast("int"))
    val m = transform(sequence(lit(0), n - 2),
      i => at(syms, i) === lit(a) && at(syms, i + 1) === lit(b))
    val merged = transform(sequence(lit(0), n - 2), i => {
      val prevFalse = when(i === 0, lit(-1)).otherwise(
        coalesce(array_max(filter(sequence(lit(0), i - 1), j => !at(m, j))),
          lit(-1)))
      at(m, i) && (i - lit(1) - prevFalse) % 2 === 0
    })
    val out = filter(
      transform(sequence(lit(0), n - 1), i => {
        val mergedHere =
          when(i < n - 1, coalesce(at(merged, i), lit(false))).otherwise(lit(false))
        val mergedPrev =
          when(i > 0, coalesce(at(merged, i - 1), lit(false))).otherwise(lit(false))
        when(mergedHere, concat(at(syms, i), at(syms, i + 1)))
          .when(mergedPrev, lit(null).cast("string"))
          .otherwise(at(syms, i))
      }),
      x => x.isNotNull)
    when(n >= 2, out).otherwise(syms)
  }

  /** Corpus-wide top-k n-grams by document frequency (distinct docs
    * containing the n-gram) with total occurrence count alongside — the
    * boilerplate detector: its output is what feeds a `maxShingleDf`-style
    * cutoff ([[Dedup.ngramJaccardPairs]]) or a line-level scrubber.
    *
    * Scale shape: explode → two-level aggregate. The first aggregate
    * (per-doc distinct) is map-side combinable because a document's shingles
    * are co-located in its row; the second shuffles 〈ngram, partial〉 pairs
    * only — never document bodies — and the final top-k is a
    * TakeOrderedAndProject (no global sort materialization). Ties break
    * lexicographically so the result is deterministic. */
  def topNgrams(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      n: Int = 3,
      k: Int = 20): DataFrame = {
    val exploded = docs.select(
        col(idCol).as("id"), explode(Dedup.shingles(tokens(col(textCol)), n)).as("ngram"))
    exploded
      .groupBy("ngram")
      .agg(countDistinct(col("id")).as("doc_freq"), count(lit(1)).as("total_count"))
      .orderBy(col("doc_freq").desc, col("total_count").desc, col("ngram"))
      .limit(k)
  }

  /** Benchmark decontamination: flag corpus documents whose n-gram sets
    * overlap an evaluation set — the standard guard against training on test
    * data. A document is scored by the fraction of its DISTINCT n-grams that
    * appear anywhere in the eval set (the usual 13-gram/8-gram overlap test,
    * parameterized).
    *
    * Scale shape: the eval side collapses to a distinct n-gram set — eval
    * benchmarks are tiny next to a training corpus, so it broadcasts and the
    * corpus side never shuffles document bodies: explode per-doc distinct
    * n-grams, broadcast-hash-join, count per doc. If the eval set ever
    * outgrows broadcast, drop the hint and the same plan shuffles on the
    * n-gram — still never all-pairs.
    *
    * Output: doc_id, n_ngrams, n_contaminated, contamination_ratio,
    * is_contaminated (ratio ≥ minRatio). Docs shorter than n tokens have
    * zero n-grams and ratio 0. */
  def ngramContamination(
      corpus: DataFrame,
      evalSet: DataFrame,
      n: Int = 3,
      minRatio: Double = 0.2,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val evalNgrams = evalSet
      .select(explode(Dedup.shingles(tokens(col(textCol)), n)).as("ngram"))
      .distinct()
    // tokenize+shingle is the dominant CPU cost of the whole pass; project
    // the distinct-gram array ONCE and persist it so the two consumers
    // (per-doc size, exploded join side) don't re-run the regex pipeline
    // over the full corpus each — the frame spills to disk if it outgrows
    // memory, and the eager tail below releases it
    val grams = corpus
      .select(col(idCol),
        array_distinct(Dedup.shingles(tokens(col(textCol)), n)).as("__grams"))
      .persist()
    val hits = grams.select(col(idCol), explode(col("__grams")).as("ngram"))
      .join(broadcast(evalNgrams), Seq("ngram"))
      .groupBy(idCol).agg(count(lit(1)).as("n_contaminated"))
    val result = grams
      .select(col(idCol), size(col("__grams")).as("n_ngrams"))
      .join(hits, Seq(idCol), "left")
      .na.fill(0L, Seq("n_contaminated"))
      .withColumn("contamination_ratio",
        round(when(col("n_ngrams") > 0,
          col("n_contaminated").cast(DoubleType) / col("n_ngrams")).otherwise(0.0), 4))
      .withColumn("is_contaminated", col("contamination_ratio") >= minRatio)
    try result.localCheckpoint(true)
    finally { grams.unpersist(); () }
  }

  /** PII patterns, deliberately portable across Java regex (Spark) and RE2
    * (DuckDB oracle): no backreferences, no lookaround. */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern = "\\b\\d{3}[-.]\\d{3,4}[-.]\\d{4}\\b"
  val ipPattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII detection + redaction — the scrub pass a training corpus runs before
    * anything else ships. Counts are taken on the raw text; redaction applies
    * email → phone → IP in that fixed order so the output is deterministic.
    * Pure projection (codegen'd regexes), no shuffle, scales linearly.
    * Output: doc_id, n_emails, n_phones, n_ips, scrubbed_text, has_pii. */
  def piiStats(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val t = col(textCol)
    val scrubbed = regexp_replace(
      regexp_replace(
        regexp_replace(t, emailPattern, "<EMAIL>"),
        phonePattern, "<PHONE>"),
      ipPattern, "<IP>")
    docs.select(col(idCol),
        size(regexp_extract_all(t, lit(emailPattern), lit(0))).as("n_emails"),
        size(regexp_extract_all(t, lit(phonePattern), lit(0))).as("n_phones"),
        size(regexp_extract_all(t, lit(ipPattern), lit(0))).as("n_ips"),
        scrubbed.as("scrubbed_text"))
      .withColumn("has_pii", (col("n_emails") + col("n_phones") + col("n_ips")) > 0)
  }

  // Public stopword/marker lists (standard high-frequency function words).
  /** Pairwise Jensen–Shannon divergence between per-source unigram
    * distributions — the "how different are my corpus slices" report a
    * data-mixing run consults before setting weights ([[CorpusPrep
    * .sourceMixtureWeights]]/[[CorpusPrep.temperatureResample]] decide HOW
    * MUCH of each source; this measures how REDUNDANT two sources are).
    * JSD = ½KL(P‖M) + ½KL(Q‖M), M = (P+Q)/2 — symmetric, bounded by ln 2,
    * and defined when a token is missing from one side (its term is p·ln 2).
    *
    * Scale shape: distributions are restricted to the top-`topV` corpus
    * vocabulary (deterministic count-desc/token-asc cut), so everything
    * after the one token-count aggregate is bounded: the dense
    * source×vocab grid is |S|·V rows, the pair join |S|²/2·V — report-
    * sized, never corpus-sized. Terms are DECIMAL-cast before the sum
    * (the q134 recipe) so cross-engine reordering can't drift the digest.
    * Output: source_a, source_b, jsd (round 6), one row per unordered
    * source pair. */
  def sourceDivergence(
      docs: DataFrame,
      topV: Int = 500,
      sourceCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val dec = DecimalType(28, 12)
    val cnt = docs
      .select(col(sourceCol).as("source"),
        explode(array_remove(tokens(col(textCol)), "")).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("c"))
      .persist()
    try {
      val vocab = cnt.groupBy("token").agg(sum("c").as("tot"))
        .orderBy(desc("tot"), col("token")).limit(topV).select("token")
      val sources = docs.select(col(sourceCol).as("source")).distinct()
      val dense = sources.crossJoin(broadcast(vocab))
        .join(cnt, Seq("source", "token"), "left")
        .select(col("source"), col("token"), coalesce(col("c"), lit(0L)).as("c"))
      val tot = dense.groupBy("source").agg(sum("c").as("tot"))
      val p = dense.join(broadcast(tot), "source")
        .filter(col("tot") > 0)
        .select(col("source"), col("token"),
          (col("c").cast(DoubleType) / col("tot")).as("p"))
      val pair = p.as("x")
        .join(p.as("y"),
          col("x.token") === col("y.token") && col("x.source") < col("y.source"))
        .select(col("x.source").as("source_a"), col("y.source").as("source_b"),
          col("x.p").as("p"), col("y.p").as("q"))
      val term = (lit(0.5) *
          when(col("p") > 0,
            col("p") * log(lit(2.0) * col("p") / (col("p") + col("q"))))
            .otherwise(lit(0.0)) +
        lit(0.5) *
          when(col("q") > 0,
            col("q") * log(lit(2.0) * col("q") / (col("p") + col("q"))))
            .otherwise(lit(0.0))).cast(dec)
      val result = pair
        .select(col("source_a"), col("source_b"), term.as("term"))
        .groupBy("source_a", "source_b")
        .agg(round(sum("term").cast(DoubleType), 6).as("jsd"))
        .orderBy("source_a", "source_b")
      result.localCheckpoint(true)
    } finally { cnt.unpersist(); () }
  }

  val stopwordsEn: Seq[String] = Seq("the", "a", "an", "of", "and", "to", "in", "is", "it", "for")
  val markersEn: Seq[String] = Seq("the", "a", "of", "and", "to", "is")
  val markersDe: Seq[String] = Seq("der", "die", "das", "und", "ist", "nicht")
  val markersEs: Seq[String] = Seq("el", "la", "de", "y", "es", "que")
  val markersFr: Seq[String] = Seq("le", "les", "et", "est", "une", "pas")

  /** VOCABULARY GROWTH (Heaps-law) curve: distinct token types vs corpus
    * size, measured over deterministic hash-decile prefixes — documents
    * land in one of `buckets` md5 deciles, and checkpoint d reports the
    * cumulative docs/tokens/types of deciles 1..d. Sub-linear growth
    * (V ∝ N^β, β ≈ 0.4–0.6 for natural text) is the expected shape; a
    * curve bending UP flags synthetic/templated inflow, one flattening
    * hard flags heavy duplication — the cheapest corpus-composition
    * trend monitor next to [[ngramNovelty]]'s per-doc view.
    *
    * Scale shape: one shuffle on the token key for `min(decile)`
    * (map-side combinable — a token's postings never co-locate), grouped
    * counts for the rest; the cumulative window runs over ≤ `buckets`
    * aggregated rows. No global rank anywhere: the hash decile replaces
    * ingestion order, which Heaps measurement does not need (random
    * subsets of growing size trace the same curve).
    * Output: decile, n_docs_cum, n_tokens_cum, n_new_types, vocab_cum. */
  def vocabGrowth(
      docs: DataFrame,
      buckets: Int = 10,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(buckets >= 2, s"need buckets >= 2, got $buckets")
    val dec = (pmod(Sketches.hash60(col(idCol)), lit(buckets)) + 1).cast("int")
    val tok = docs.select(dec.as("decile"),
      explode(array_remove(tokens(col(textCol)), "")).as("tok"))
    val perDec = tok.groupBy("decile").agg(count(lit(1)).as("n_tokens"))
    val newTypes = tok.groupBy("tok").agg(min("decile").as("decile"))
      .groupBy("decile").agg(count(lit(1)).as("n_new_types"))
    val docsPer = docs.select(dec.as("decile"))
      .groupBy("decile").agg(count(lit(1)).as("n_docs"))
    val spine = docs.sparkSession.range(1, buckets + 1)
      .select(col("id").cast("int").as("decile"))
    val w = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine
      .join(docsPer, Seq("decile"), "left")
      .join(perDec, Seq("decile"), "left")
      .join(newTypes, Seq("decile"), "left")
      .select(col("decile"),
        coalesce(col("n_docs"), lit(0L)).as("nd"),
        coalesce(col("n_tokens"), lit(0L)).as("nt"),
        coalesce(col("n_new_types"), lit(0L)).as("n_new_types"))
      .select(col("decile"),
        sum(col("nd")).over(w).as("n_docs_cum"),
        sum(col("nt")).over(w).as("n_tokens_cum"),
        col("n_new_types"),
        sum(col("n_new_types")).over(w).as("vocab_cum"))
  }

  /** FREQUENCY-OF-FREQUENCIES table with simple Good–Turing adjusted
    * counts: f_k = number of token types seen exactly k times, the
    * Good–Turing re-estimate c* = (k+1)·f_{k+1}/f_k, and the share of
    * corpus mass each count class holds. The k=1 row's mass IS the
    * classic unseen-probability estimate p₀ = f₁/N — the number an
    * open-vocabulary LM smoother needs from corpus scale.
    *
    * Scale shape: token counts are one map-side-combinable shuffle; the
    * count-of-counts re-aggregation runs over the VOCABULARY-sized frame
    * (≪ corpus), and the lead() window for f_{k+1} runs over ≤ maxK
    * report rows. All ratios are integer-over-integer IEEE divides — no
    * libm anywhere, bit-identical on any engine.
    *
    * Output per k ≤ maxK: k, n_types, mass (k·f_k/N, round 6),
    * c_star (round 6; null at the table edge where f_{k+1} is absent). */
  /** The mergeable TERM-FREQUENCY ARTIFACT behind [[countOfCounts]]:
    * per-n-gram occurrence counts keyed on the 60-bit md5 fingerprint.
    * Artifacts from disjoint document slices merge by per-key ADDITION
    * (union → grouped sum) — the law q213 gates — so a daily ingest
    * counts only its own batch and the frequency spectrum still comes out
    * identical to a whole-corpus rebuild. Output: tok (fingerprint), k. */
  def ngramCounts(
      docs: DataFrame,
      ngramN: Int = 1,
      textCol: String = "text"): DataFrame = {
    require(ngramN >= 1, s"need ngramN >= 1, got $ngramN")
    // Good-Turing's natural unit is the n-gram (its classic application is
    // n-gram count re-estimation); occurrences keep MULTIPLICITY here, so
    // [[Dedup.shingles]] (which also let-binds the tokenizer — the 150x
    // re-evaluation trap its scaladoc documents) rather than the distinct
    // shingleSet. Units are fingerprinted to 60-bit md5 BEFORE the count
    // shuffle (the q136 rule: n-gram text never moves).
    val t = array_remove(tokens(col(textCol)), "")
    val units = if (ngramN == 1) t else Dedup.shingles(t, ngramN)
    docs.select(explode(units).as("u"))
      .select(Sketches.hash60(col("u")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("k"))
  }

  def countOfCounts(
      docs: DataFrame,
      maxK: Int = 10,
      ngramN: Int = 1,
      textCol: String = "text"): DataFrame =
    countOfCountsFromCounts(ngramCounts(docs, ngramN, textCol), maxK)

  /** [[countOfCounts]] from a pre-built (or merged) [[ngramCounts]]
    * artifact — the read side of the incremental law. */
  def countOfCountsFromCounts(counts: DataFrame, maxK: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxK >= 1, s"need maxK >= 1, got $maxK")
    val fk = counts.groupBy("k").agg(count(lit(1)).as("n_types"))
    // total mass N = Σ k·f_k recovered from the count-of-counts frame itself
    // (≤ distinct-count-values rows) — no second corpus scan
    val w = Window.orderBy("k")
    val wtot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    fk.withColumn("n_total", sum(col("k") * col("n_types")).over(wtot))
      .withColumn("f_next", lead(col("n_types"), 1).over(w))
      .withColumn("k_next", lead(col("k"), 1).over(w))
      .filter(col("k") <= maxK)
      .select(
        col("k"),
        col("n_types"),
        round(col("k").cast(DoubleType) * col("n_types").cast(DoubleType)
          / col("n_total").cast(DoubleType), 6).as("mass"),
        // Good–Turing needs the NEXT count class to be exactly k+1 (gaps in
        // the table leave c* undefined, per Gale & Sampson's treatment)
        when(col("k_next") === col("k") + 1,
          round((col("k") + 1).cast(DoubleType) * col("f_next").cast(DoubleType)
            / col("n_types").cast(DoubleType), 6)).as("c_star"))
  }

  /** ZIPF-LAW slope per source: OLS fit of ln(frequency) against ln(rank)
    * over the top-`topV` token types — natural text sits near slope −1;
    * a much flatter slope flags templated/synthetic inflow, a steeper one
    * flags boilerplate domination. The frequency-side complement of
    * [[vocabGrowth]]'s Heaps curve.
    *
    * Scale shape: token counts are one map-side-combinable shuffle; the
    * rank window partitions by source over the VOCABULARY-sized aggregate
    * (never raw tokens), and the OLS sums run over ≤ topV rows per source
    * with DECIMAL accumulators (order-independent, the q103 recipe).
    * Ranks break ties deterministically on (count desc, token asc).
    *
    * Output per source: source, n_types, slope (round 6), intercept
    * (round 6). */
  def zipfSlopes(
      docs: DataFrame,
      topV: Int = 200,
      textCol: String = "text",
      srcCol: String = "source"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topV >= 2, s"need topV >= 2, got $topV")
    val dec = DecimalType(28, 12)
    val tok = docs.select(col(srcCol).as("source"),
      explode(array_remove(tokens(col(textCol)), "")).as("tok"))
    val counts = tok.groupBy("source", "tok").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("source").orderBy(col("cnt").desc, col("tok"))
    val ranked = counts.withColumn("r", row_number().over(w)).filter(col("r") <= topV)
      .select(col("source"),
        log(col("r").cast(DoubleType)).as("x"),
        log(col("cnt").cast(DoubleType)).as("y"))
    val sums = ranked
      .groupBy("source")
      .agg(count(lit(1)).as("n_types"),
        sum(col("x").cast(dec)).cast(DoubleType).as("sx"),
        sum(col("y").cast(dec)).cast(DoubleType).as("sy"),
        sum((col("x") * col("y")).cast(dec)).cast(DoubleType).as("sxy"),
        sum((col("x") * col("x")).cast(dec)).cast(DoubleType).as("sxx"))
    // closed-form OLS in the DOUBLE domain over the decimal-exact sums —
    // identical IEEE operations on identical inputs on any engine
    val n = col("n_types").cast(DoubleType)
    val slope = (n * col("sxy") - col("sx") * col("sy")) /
      (n * col("sxx") - col("sx") * col("sx"))
    sums.select(col("source"), col("n_types"),
      round(slope, 6).as("slope"),
      round((col("sy") - slope * col("sx")) / n, 6).as("intercept"))
  }

  /** Tokenizer FERTILITY per source: subword-tokens-per-word — the
    * standard fit metric between a tokenizer and a corpus slice (fertility
    * near 1 means the vocabulary covers the text; high fertility flags
    * sources the tokenizer fragments, which inflate training cost and
    * degrade per-token learning). Uses the BPE-ish segmentation
    * ([[bpeTokenPattern]]) over whitespace words, plus chars-per-word as
    * the length control. One grouped aggregate over per-doc projections —
    * map-side combinable, no shuffle of document bodies.
    * Output per source: source, n_docs, n_words, n_subwords, fertility
    * (6dp), chars_per_word (6dp). */
  def tokenFertility(
      docs: DataFrame,
      textCol: String = "text",
      srcCol: String = "source"): DataFrame = {
    val words = array_remove(tokens(col(textCol)), "")
    docs
      .select(col(srcCol),
        size(words).cast("long").as("w"),
        bpeTokenCount(col(textCol)).cast("long").as("b"),
        length(concat_ws("", words)).cast("long").as("c"))
      .groupBy(srcCol)
      .agg(count(lit(1)).as("n_docs"),
        sum("w").as("n_words"),
        sum("b").as("n_subwords"),
        when(sum("w") > 0,
          round(sum("b").cast(DoubleType) / sum("w").cast(DoubleType), 6))
          .otherwise(0.0).as("fertility"),
        when(sum("w") > 0,
          round(sum("c").cast(DoubleType) / sum("w").cast(DoubleType), 6))
          .otherwise(0.0).as("chars_per_word"))
  }

  /** Per-document n-gram NOVELTY: the fraction of a document's distinct
    * n-gram shingles whose corpus-wide FIRST occurrence (min doc id over
    * all documents containing the shingle) is this document. The standard
    * diagnostic between exact dedup and near-dup removal: boilerplate-heavy
    * documents score near 0 (every shingle already seen in an earlier doc),
    * genuinely fresh content scores near 1 — and a corpus-level novelty
    * histogram is the cheapest early-warning for crawl collapse
    * (re-crawled content arriving under new ids).
    *
    * Scale shape: ONE shuffle on the shingle key; `min(doc_id)` is
    * map-side combinable so the reducer sees one partial per shingle per
    * map partition, never the raw postings. The join back to documents is
    * on the same shingle key (no second shuffle of the corpus bodies —
    * only (doc_id, shingle) pairs move). Documents too short for a single
    * shingle surface with n_shingles = 0 and novelty 0.0 (guarded — no
    * divide-by-zero under ANSI).
    *
    * Output: doc_id, n_shingles, n_novel, novelty (6dp). */
  def ngramNovelty(
      docs: DataFrame,
      n: Int = 3,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val inv = docs
      .select(col(idCol).as("id"), explode(Dedup.shingleSet(col(textCol), n)).as("g"))
    val first = inv.groupBy("g").agg(min(col("id")).as("first_doc"))
    val perDoc = inv.join(first, "g")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("id"), 1L).otherwise(0L)).as("n_novel"))
    docs.select(col(idCol).as("id"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(coalesce(col("n_shingles"), lit(0L)) > 0,
          round(col("n_novel").cast(DoubleType) / col("n_shingles").cast(DoubleType), 6))
          .otherwise(0.0).as("novelty"))
  }

  /** Gopher-style quality RULE BUNDLE (Rae et al. 2021 §A1.1, thresholds
    * adapted to the synthetic corpus): instead of one opaque score, each
    * document carries a boolean flag per rule plus the conjunction — the
    * auditable form every production filter ends up needing, because
    * per-rule pass rates are how thresholds get tuned and regressions get
    * localized. Rules over [[textStats]] columns:
    *   r_word_count     n_tokens in [wordMin, wordMax]
    *   r_mean_word_len  avg_token_len in [3.0, 10.0]
    *   r_stopword       stopword_ratio >= 0.01 (natural-language evidence)
    *   r_diversity      n_unique_tokens / n_tokens >= 0.2 (repetition gate)
    *   keep             all of the above
    *
    * Scale shape: a single codegen'd projection over textStats (itself one
    * pass, no shuffle) — embarrassingly parallel at any corpus size.
    * Output: doc_id, n_tokens, avg_token_len, stopword_ratio, uniq_ratio,
    * r_word_count, r_mean_word_len, r_stopword, r_diversity, keep. */
  def gopherRules(
      docs: DataFrame,
      wordMin: Int = 50,
      wordMax: Int = 100000,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    textStats(docs, textCol, idCol)
      .withColumn("uniq_ratio",
        round(col("n_unique_tokens").cast(DoubleType) / col("n_tokens"), 4))
      .withColumn("r_word_count", col("n_tokens").between(wordMin, wordMax))
      .withColumn("r_mean_word_len", col("avg_token_len").between(3.0, 10.0))
      .withColumn("r_stopword", col("stopword_ratio") >= 0.01)
      .withColumn("r_diversity", col("uniq_ratio") >= 0.2)
      .withColumn("keep",
        col("r_word_count") && col("r_mean_word_len") &&
          col("r_stopword") && col("r_diversity"))
      .select(idCol, "n_tokens", "avg_token_len", "stopword_ratio",
        "uniq_ratio", "r_word_count", "r_mean_word_len", "r_stopword",
        "r_diversity", "keep")

  /** Tokenizer vocab-budget design curve: for each budget V in `budgets`,
    * the vocabulary is the top-V token types by whole-corpus frequency
    * (ties on token asc — a total order, so the cut is exactly
    * reproducible), and each source is measured for its out-of-vocabulary
    * token rate under that budget. The V-vs-OOV tradeoff is the first
    * question of tokenizer design over a mixed corpus; a source whose OOV
    * rate stays high as V grows is vocabulary-divergent from the mix
    * (cf. [[tokenFertility]], which measures the subword side).
    *
    * Scale shape: tokens reduce to 〈source, type, count〉 in one map-side
    * combinable shuffle; the global frequency rank runs over the
    * VOCABULARY-sized type frame via the distributed-rank recipe
    * ([[graft.relational.Relational.distributedCumSum]] — web-scale type
    * counts are 100M+, no single-task window); the budget grid is a
    * broadcast range join against ranks, grid-sized output.
    *
    * Cross-build portability: every gate column is BIGINT — oov_ppm is
    * the round-half-up integer ppm division (the q180 recipe).
    * Output per (budget, source), both asc: budget, source, n_tokens,
    * n_oov, oov_ppm. */
  def vocabCoverage(
      docs: DataFrame,
      budgets: Seq[Int] = Seq(1000, 2000, 4000, 8000),
      textCol: String = "text",
      srcCol: String = "source"): DataFrame =
    vocabCoverageFromCounts(vocabCounts(docs, textCol, srcCol), budgets)

  /** The tokenize-and-count stage feeding [[vocabCoverageFromCounts]] —
    * ONE definition shared by the whole-corpus path and the q229
    * incremental merge, so the merge ≡ rebuild law holds by construction
    * rather than by two copies staying character-identical. */
  def vocabCounts(
      docs: DataFrame,
      textCol: String = "text",
      srcCol: String = "source"): DataFrame =
    docs.select(col(srcCol).as("source"),
        explode(array_remove(tokens(col(textCol)), "")).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("n"))

  /** [[vocabCoverage]] from a pre-aggregated 〈source, tok, n〉 count frame
    * — the MERGEABLE-ARTIFACT entry point: per-source type counts merge by
    * per-(source, tok) addition, so an incremental ingest keeps the stored
    * counts and folds each batch in at batch cost; the budget curve over
    * the merged artifact is LAW-equal to a whole-corpus rebuild (q229's
    * gate is exactly that identity). */
  def vocabCoverageFromCounts(
      bySourceType: DataFrame,
      budgets: Seq[Int] = Seq(1000, 2000, 4000, 8000)): DataFrame = {
    require(budgets.nonEmpty && budgets.forall(_ > 0), "budgets must be positive")
    val spark = bySourceType.sparkSession
    val typeCounts = bySourceType.groupBy("tok").agg(sum("n").as("c"))
    // global rank by (count desc, token asc): negate the count so the
    // recipe's ascending range partitioning yields the descending rank
    val ranked = graft.relational.Relational.distributedCumSum(
        typeCounts.withColumn("negc", -col("c")), Seq("negc", "tok"), Nil,
        rankCol = Some("r"))
      .select(col("tok"), col("r"))
    import spark.implicits._
    val grid = budgets.sorted.toDF("budget")
    val perSource = bySourceType.join(ranked, "tok")
    val totals = bySourceType.groupBy("source").agg(sum("n").as("n_tokens"))
    perSource
      .crossJoin(broadcast(grid))
      .filter(col("r") > col("budget")) // OOV under this budget
      .groupBy("budget", "source").agg(sum("n").as("n_oov"))
      .join(broadcast(grid).crossJoin(totals), Seq("budget", "source"), "right")
      .select(col("budget"), col("source"), col("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"))
      .withColumn("oov_ppm",
        expr("(n_oov * 2000000 + n_tokens) div (2 * n_tokens)"))
      .orderBy("budget", "source")
  }
}
