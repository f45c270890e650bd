package graft.analysis

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-style) tokenizer trainer — the Kudo 2018
  * shape: seed a candidate vocabulary from frequent substrings, EM over the
  * corpus (hard/Viterbi E-step: best segmentation under current piece
  * probabilities; M-step: re-estimate piece probabilities from usage
  * counts), then prune to a budget and re-estimate. Completes the
  * tokenizer family next to the BPE trainer/encoder (q252/q255/q260).
  *
  * Cross-engine determinism (the q258 integer-ratio recipe): piece
  * probabilities are quantized to integer PARTS-PER-BILLION after every
  * M-step — `ppb = (2·cnt·10⁹ + T) div (2T)`, round-half-up in pure BIGINT
  * arithmetic — so each EM round re-enters on exact integers. The Viterbi
  * DP multiplies the exact doubles `ppb · 1e-9` in a FIXED order (left
  * fold over positions, candidates scanned last-start-first with
  * strictly-greater replacement), so the discrete argmax path — and hence
  * every count the gate hashes — is bit-identical on any IEEE engine. No
  * float ever reaches the output schema, and no transcendental (log/pow)
  * is evaluated anywhere.
  *
  * Scale shape (100 TB): the E-step is ONE narrow distributed pass over
  * the DISTINCT-word table (words, not documents — Zipf collapses the
  * corpus by ~1000×), with the piece-score model a driver-held broadcast
  * map bounded by `seedMulti + |alphabet|` (the q255/q242 bounded-model
  * plan: scores ride the closure, no join, no shuffle until the
  * vocab-sized count aggregation, which map-side-combines to ≤|vocab|
  * rows per partition). Seed selection is one substring explode
  * (≤ maxWordLen·maxPieceLen rows per distinct word) + TakeOrdered.
  * Driver round-trips hold only vocab-sized count vectors (≤ ~100 rows
  * per round), never corpus data.
  *
  * Envelope: piece counts must stay below ~4.6e9 for the 2·cnt·10⁹
  * quantization to fit in a Long — beyond that, shard the corpus and
  * merge counts before quantizing (counts are additive across disjoint
  * document slices, same law as the BM25/packing artifacts).
  *
  * Reference analogue: the reference pipeline tokenizes with whitespace
  * heuristics only (spark_common/udfs.py term splitting) — subword
  * training is beyond-parity surface for LLM-corpus preparation. */
object UnigramLM {

  /** Trainer knobs. `maxWordLen` caps DP length — words longer than it
    * are EXCLUDED from training (real subword trainers cap candidate
    * sentence/word length the same way) and char-fallback at encode time.
    * `maxPieceLen` bounds candidate piece length (DP lookback). */
  final case class Params(
      maxWordLen: Int = 10,
      maxPieceLen: Int = 4,
      seedMulti: Int = 48,
      budgetMulti: Int = 24,
      emRounds: Int = 2) {
    require(maxWordLen >= 1 && maxPieceLen >= 1 && maxPieceLen <= maxWordLen)
    require(seedMulti >= budgetMulti && budgetMulti >= 0 && emRounds >= 0)
  }

  private val G = 1000000000L // ppb scale

  /** Round-half-up integer parts-per-billion: (2·c·10⁹ + t) div (2t). */
  private def ppbOf(c: Long, t: Long): Long = {
    require(t > 0, "quantize over an empty vocabulary")
    (2L * c * G + t) / (2L * t)
  }

  /** Distinct-word table 〈w, freq, len〉 over the normalized token stream,
    * filtered to trainable lengths. One scan + one hash aggregation. */
  def wordTable(docs: DataFrame, maxWordLen: Int, textCol: String): DataFrame =
    docs
      .select(explode(array_remove(TextAnalysis.tokens(col(textCol)), ""))
        .as("w"))
      .filter(length(col("w")) <= maxWordLen)
      .groupBy("w")
      .agg(count(lit(1)).as("freq"))
      .select(col("w"), col("freq"), length(col("w")).cast("int").as("len"))

  /** The trainer's MERGEABLE corpus artifact: the freq-weighted
    * distinct-word table — the ONLY statistic the whole train pipeline
    * reads (seed counts, every E-step, and the encoder all derive from
    * it). Additive across disjoint document slices by per-word addition
    * ([[mergeWordTables]]), the q262/q257 sharded-counting law: training
    * from merged shard artifacts must equal the whole-corpus rebuild
    * bit-for-bit (q276 gates it against q271's oracle verbatim). */
  def wordTableArtifact(
      docs: DataFrame,
      maxWordLen: Int = Params().maxWordLen,
      textCol: String = "text"): DataFrame =
    wordTable(docs, maxWordLen, textCol)

  /** Merge per-slice word tables by per-word frequency addition. */
  def mergeWordTables(artifacts: DataFrame*): DataFrame =
    artifacts.reduce(_ unionByName _)
      .groupBy("w")
      .agg(sum("freq").as("freq"))
      .select(col("w"), col("freq"), length(col("w")).cast("int").as("len"))

  /** Seed candidate vocabulary 〈piece, cnt〉: every substring of length
    * 1..maxPieceLen of every trainable word, freq-weighted by occurrence
    * (a substring appearing twice in a word counts twice). ALL single
    * chars survive selection (they guarantee segmentability); multi-char
    * candidates keep the top `seedMulti` by (cnt desc, piece asc). */
  private def seedFromWords(wt: DataFrame, params: Params): DataFrame = {
    val sub = substringCounts(wt, params)
    val chars = sub.filter(length(col("piece")) === 1)
    val multi = sub.filter(length(col("piece")) >= 2)
      .orderBy(desc("cnt"), col("piece")).limit(params.seedMulti)
    chars.unionByName(multi).orderBy("piece")
  }

  private def substringCounts(wt: DataFrame, params: Params): DataFrame = {
    val grid = for {
      j <- 0 until params.maxWordLen
      l <- 1 to params.maxPieceLen
      if j + l <= params.maxWordLen
    } yield (j, l)
    val pieceCols: Seq[Column] = grid.map { case (j, l) =>
      when(lit(j + l) <= col("len"), substring(col("w"), j + 1, l))
    }
    wt.select(col("freq"), explode(array(pieceCols: _*)).as("piece"))
      .filter(col("piece").isNotNull)
      .groupBy("piece")
      .agg(sum("freq").as("cnt"))
  }

  /** Best (Viterbi) segmentation of one word under ppb piece scores —
    * plain JVM doubles, the EXACT op order the generated DuckDB oracle
    * unrolls: b₀=1.0; bᵢ = max over j ∈ {i-1, i-2, …, i-K} of
    * bⱼ·(ppb(w[j..i))·1e-9), candidates scanned j descending with
    * strictly-greater replacement (ties keep the shortest last piece).
    * Every char of a trainable word is in the vocab by construction, so
    * bᵢ is always defined. Returns the piece list (order irrelevant —
    * callers count). */
  private[graft] def viterbiPieces(
      w: String, scores: collection.Map[String, Long], maxPieceLen: Int): List[String] = {
    val L = w.length
    val b = new Array[Double](L + 1)
    val bp = new Array[Int](L + 1)
    b(0) = 1.0
    var i = 1
    while (i <= L) {
      var best = Double.NegativeInfinity
      var bj = -1
      var j = i - 1
      val lo = math.max(0, i - maxPieceLen)
      while (j >= lo) {
        scores.get(w.substring(j, i)) match {
          case Some(ppb) =>
            val c = b(j) * (ppb.toDouble * 1e-9)
            if (bj < 0 || c > best) { best = c; bj = j }
          case None => ()
        }
        j -= 1
      }
      require(bj >= 0, s"unsegmentable prefix '${w.substring(0, i)}'")
      b(i) = best; bp(i) = bj
      i += 1
    }
    var pos = L
    var out: List[String] = Nil
    while (pos > 0) {
      val p = bp(pos)
      out = w.substring(p, pos) :: out
      pos = p
    }
    out
  }

  /** Hard-EM E-step usage counts: Viterbi-segment every distinct word
    * under `scores`, count pieces freq-weighted, and return ONE count per
    * vocab piece (zero-usage pieces kept at 0) in deterministic piece
    * order. The per-word DP is a typed map over the distinct-word table
    * (genuinely imperative per-row logic — the mapPartitions tier), with
    * the bounded score model riding the closure. */
  private def emCounts(
      wt: DataFrame,
      vocab: Seq[String],
      scores: Map[String, Long],
      params: Params): Array[(String, Long)] = {
    val spark = wt.sparkSession
    import spark.implicits._
    val k = params.maxPieceLen
    val used = wt.select(col("w"), col("freq").cast("long"))
      .as[(String, Long)]
      .flatMap { case (w, f) => viterbiPieces(w, scores, k).map(_ -> f) }
      .toDF("piece", "freq")
      .groupBy("piece").agg(sum("freq").as("cnt"))
      .collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    vocab.sorted.map(p => p -> used.getOrElse(p, 0L)).toArray
  }

  private def quantize(counts: Seq[(String, Long)]): Map[String, Long] = {
    val t = counts.map(_._2).sum
    counts.map { case (p, c) => p -> ppbOf(c, t) }.toMap
  }

  /** Train the unigram LM: seed → `emRounds` hard-EM rounds → count-based
    * prune to `budgetMulti` multi-char pieces (all single chars kept) →
    * one final E-step over the pruned vocabulary. Output: 〈piece, cnt,
    * prob_ppb〉, cnt the final-round usage count and prob_ppb its
    * quantized probability, ordered by piece. Integer-only schema. */
  def unigramTrain(
      docs: DataFrame,
      params: Params = Params(),
      textCol: String = "text"): DataFrame =
    unigramTrainFromWords(
      wordTable(docs, params.maxWordLen, textCol), params)

  /** [[unigramTrain]] off a (possibly merged) [[wordTableArtifact]] —
    * the increment-law half: shard word tables, merge, train here, and
    * the result equals the whole-corpus rebuild exactly (the artifact is
    * the pipeline's complete sufficient statistic). */
  def unigramTrainFromWords(
      words: DataFrame,
      params: Params = Params()): DataFrame = {
    val wt = words
      .persist() // consumed once per EM round + the final E-step
    try trainOnCachedWords(wt, params)
    finally { wt.unpersist(); () }
  }

  /** Trainer core over an ALREADY-persisted word table — persistence is
    * the caller's (so [[unigramEncode]] can train and then segment off
    * the SAME cached table without the corpus rescans a nested
    * persist/unpersist pair would force). */
  private def trainOnCachedWords(wt: DataFrame, params: Params): DataFrame = {
    val spark = wt.sparkSession
    import spark.implicits._
    val seed = seedFromWords(wt, params)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    var vocab: Seq[(String, Long)] = seed.sortBy(_._1)
    var scores = quantize(vocab)
    (1 to params.emRounds).foreach { _ =>
      vocab = emCounts(wt, vocab.map(_._1), scores, params).toSeq
      scores = quantize(vocab)
    }
    val (chars, multi) = vocab.partition(_._1.length == 1)
    val kept = (chars ++ multi.sortBy { case (p, c) => (-c, p) }
      .take(params.budgetMulti)).sortBy(_._1)
    scores = quantize(kept)
    val fin = emCounts(wt, kept.map(_._1), scores, params)
    val t = fin.map(_._2).sum
    fin.toSeq
      .map { case (p, c) => (p, c, ppbOf(c, t)) }
      .toDF("piece", "cnt", "prob_ppb")
      .orderBy("piece")
  }

  /** VOCAB-BUDGET curve — [[unigramTrain]]'s budget dial as a measured
    * fertility curve (q260's tokens-per-word-vs-vocab plot for the
    * unigram family): seed and the EM rounds run ONCE, then each
    * candidate budget prunes the SAME round-2 counts, requantizes, and
    * re-segments the word table — one extra distributed word-grain pass
    * per budget point, corpus touched once at the word count. Output per
    * budget: budget, n_words (freq-weighted trainable-word occurrences —
    * constant down the curve), n_pieces (freq-weighted segmentation
    * length under that budget's vocab), fertility_ppm (round-half-up
    * pieces per word — decreasing in budget, floored at 1.0 when whole
    * words enter the vocabulary). */
  def unigramBudgetCurve(
      docs: DataFrame,
      budgets: Seq[Int] = Seq(4, 12, 24),
      params: Params = Params(),
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(budgets.nonEmpty && budgets.forall(b => b >= 0 && b <= params.seedMulti),
      s"budgets must sit in [0, seedMulti], got $budgets")
    val wt = wordTable(docs, params.maxWordLen, textCol).persist()
    try {
      val seed = seedFromWords(wt, params)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      var vocab: Seq[(String, Long)] = seed.sortBy(_._1)
      var scores = quantize(vocab)
      (1 to params.emRounds).foreach { _ =>
        vocab = emCounts(wt, vocab.map(_._1), scores, params).toSeq
        scores = quantize(vocab)
      }
      val (chars, multi) = vocab.partition(_._1.length == 1)
      val k = params.maxPieceLen
      budgets.sorted.map { b =>
        val kept = (chars ++ multi.sortBy { case (p, c) => (-c, p) }.take(b))
          .sortBy(_._1)
        val sc = quantize(kept)
        wt.select(col("w"), col("freq").cast("long"))
          .as[(String, Long)]
          .map { case (w, f) => (f, viterbiPieces(w, sc, k).length.toLong) }
          .toDF("freq", "np")
          .agg(sum("freq").as("n_words"),
            sum(col("freq") * col("np")).as("n_pieces"))
          .select(lit(b.toLong).as("budget"), col("n_words"), col("n_pieces"),
            expr("(n_pieces * 2000000 + n_words) div (2 * n_words)")
              .as("fertility_ppm"))
      }.reduce(_ unionByName _).orderBy("budget")
    } finally { wt.unpersist(); () }
  }

  /** Per-DISTINCT-word piece counts under a TRAINED model over an
    * arbitrary word frame (column `w`) — the encoder's vocabulary-sized
    * core over a caller-chosen slice (q286's holdout). Over-length words
    * char-fallback (np = length), the trainer-cap escape hatch; words
    * containing characters OUTSIDE the model's alphabet are the caller's
    * contract to exclude ([[viterbiPieces]] requires segmentability).
    * Output: 〈w, np〉. */
  def segmentWordCounts(
      words: DataFrame,
      model: collection.Map[String, Long],
      params: Params = Params()): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val k = params.maxPieceLen
    val m = params.maxWordLen
    words.select(col("w")).distinct().as[String]
      .map(w => (w, if (w.length > m) w.length.toLong
        else viterbiPieces(w, model, k).length.toLong))
      .toDF("w", "np")
  }

  /** [[segmentWordCounts]] with BYTE FALLBACK — the production-tokenizer
    * answer to out-of-vocabulary input (SentencePiece `byte_fallback`):
    * a word the DP cannot segment (over the trainer length cap, or
    * containing a character outside the model's alphabet) encodes as its
    * UTF-8 bytes, one piece per byte, instead of being the CALLER's
    * problem to exclude. On this engine's normalized token alphabet
    * ([a-z0-9] — [[TextAnalysis.tokens]] strips everything else) every
    * character is exactly one UTF-8 byte, so the byte count IS the char
    * count — computed as utf-8 length so the contract holds if the
    * normalizer ever widens. Fallback is whole-word (the q272 encoder
    * contract extended to OOV-char words): mixing DP pieces and byte
    * pieces inside one word would need per-span vocab lattices for no
    * gate-visible difference on a single-byte alphabet. */
  def segmentWordCountsFallback(
      words: DataFrame,
      model: collection.Map[String, Long],
      params: Params = Params()): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val k = params.maxPieceLen
    val m = params.maxWordLen
    words.select(col("w")).distinct().as[String]
      .map { w =>
        val segmentable = w.length <= m &&
          w.forall(c => model.contains(c.toString))
        (w, if (segmentable) viterbiPieces(w, model, k).length.toLong
            else w.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong)
      }
      .toDF("w", "np")
  }

  /** Encode the corpus with a trained vocabulary: per-document word and
    * subword-token counts plus round-half-up fertility ppm (the q255
    * readout shape). Words longer than `maxWordLen` char-fallback
    * (n pieces = length), the standard trainer-cap escape hatch. The
    * per-DISTINCT-word piece counts are computed once and joined back to
    * the (doc, word) count frame — segmentation work is O(|vocab words|),
    * not O(corpus). Documents with zero words keep a row (counts 0,
    * fertility null). */
  def unigramEncode(
      docs: DataFrame,
      params: Params = Params(),
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wt = wordTable(docs, params.maxWordLen, textCol).persist()
    try {
      // retrain off the SAME cached word table the segmentation below
      // reads — the corpus is scanned exactly once (callers wanting to
      // reuse a vocab can join unigramTrain's artifact instead)
      val trained = trainOnCachedWords(wt, params)
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      val k = params.maxPieceLen
      val np = wt.select(col("w")).as[String]
        .map(w => (w, viterbiPieces(w, trained, k).length.toLong))
        .toDF("w", "np")
      val wd = docs
        .select(col(idCol),
          explode(array_remove(TextAnalysis.tokens(col(textCol)), "")).as("w"))
        .groupBy(idCol, "w").agg(count(lit(1)).as("c"))
      val enc = wd
        .join(np, Seq("w"), "left")
        .groupBy(idCol)
        .agg(sum("c").as("n_words"),
          sum(col("c") * coalesce(col("np"), length(col("w")).cast("long")))
            .as("n_sp_tokens"))
      docs.select(col(idCol))
        .join(enc, Seq(idCol), "left")
        .select(col(idCol),
          coalesce(col("n_words"), lit(0L)).as("n_words"),
          coalesce(col("n_sp_tokens"), lit(0L)).as("n_sp_tokens"),
          when(coalesce(col("n_words"), lit(0L)) > 0,
            expr("(n_sp_tokens * 2000000 + n_words) div (2 * n_words)"))
            .as("fertility_ppm"))
        .orderBy(idCol)
    } finally { wt.unpersist(); () }
  }
}
