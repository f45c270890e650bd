package graft

import graft.analysis.UnigramLM
import graft.analysis.UnigramLM.Params

class UnigramLMSpec extends SparkSpec {
  import spark.implicits._

  test("viterbiPieces: hand-computed DP on the 4/7-3/7 two-piece model") {
    // scores = quantize({a:4, aa:3}): T=7, a=(8e9+7)//14, aa=(6e9+7)//14
    val scores = Map("a" -> 571428571L, "aa" -> 428571429L)
    // aa·aa ≈ 0.1837 beats a⁴ ≈ 0.1066 and aa·a·a ≈ 0.1399
    assert(UnigramLM.viterbiPieces("aaaa", scores, 4) === List("aa", "aa"))
    assert(UnigramLM.viterbiPieces("aaa", scores, 4) === List("aa", "a")
      || UnigramLM.viterbiPieces("aaa", scores, 4) === List("a", "aa"))
    assert(UnigramLM.viterbiPieces("a", scores, 4) === List("a"))
  }

  test("viterbiPieces: exact-tie keeps the shortest last piece (largest j)") {
    // b2 candidates: (1.0·s_aa) vs (s_a·s_a) with s_a² == s_aa exactly
    val scores = Map("a" -> 500000000L, "aa" -> 250000000L)
    // 0.5·0.5 == 0.25 bit-exact? 0.25e9*1e-9 vs (0.5e9*1e-9)² — both
    // decimal-inexact; assert only determinism + validity, not the pick
    val p = UnigramLM.viterbiPieces("aa", scores, 4)
    assert(p.mkString === "aa" || p === List("a", "a"))
    assert(p === UnigramLM.viterbiPieces("aa", scores, 4))
  }

  test("hand fixture: degenerate aaaa corpus trains to the whole-word piece") {
    val docs = Seq((1L, "aaaa aaaa"), (2L, "aaaa")).toDF("doc_id", "text")
    val out = UnigramLM.unigramTrain(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // seed {a:12, aa:9, aaa:6, aaaa:3} → E1 picks [aaaa] (0.1 > 0.09 best
    // composite) → all mass converges on the whole word; chars kept at 0
    assert(out.toSeq === Seq(
      ("a", 0L, 0L), ("aa", 0L, 0L), ("aaa", 0L, 0L),
      ("aaaa", 3L, 1000000000L)))
  }

  test("trainer laws on a mixed corpus") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cats sat on the mats"),
      (3L, "a cat and a dog ran to the mat"),
      (4L, "dogs and cats and mats")).toDF("doc_id", "text")
    val p = Params(maxWordLen = 10, maxPieceLen = 4, seedMulti = 12,
      budgetMulti = 6, emRounds = 2)
    val vocab = UnigramLM.unigramTrain(docs, p).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val chars = "thecasonmdgrt".toSet
    // every single char of the corpus survives pruning
    val vocabChars = vocab.map(_._1).filter(_.length == 1).map(_.head).toSet
    assert(chars.subsetOf(vocabChars))
    // budget respected; pieces bounded by maxPieceLen; counts non-negative
    assert(vocab.count(_._1.length >= 2) <= p.budgetMulti)
    assert(vocab.forall(_._1.length <= p.maxPieceLen))
    assert(vocab.forall(_._2 >= 0L))
    // the quantized distribution sums to 1e9 within |vocab| half-ulps
    val psum = vocab.map(_._3).sum
    assert(math.abs(psum - 1000000000L) <= vocab.length,
      s"prob_ppb sum $psum")
    // output is piece-sorted (the gate's ORDER BY)
    assert(vocab.map(_._1).toSeq === vocab.map(_._1).toSeq.sorted)
  }

  test("encode: per-doc counts bounded and fertility is the round-half-up ratio") {
    val docs = Seq(
      (1L, "the cat sat"),
      (2L, ""),
      (3L, "concatenation cat")).toDF("doc_id", "text")
    val p = Params(maxWordLen = 6, maxPieceLen = 3, seedMulti = 8,
      budgetMulti = 4, emRounds = 1)
    val out = UnigramLM.unigramEncode(docs, p).collect()
    val byId = out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    val (w1, t1, f1) = byId(1L)
    assert(w1 === 3L && t1 >= 3L && t1 <= 9L) // >=1 piece/word, <=chars
    assert(f1 === (t1 * 2000000L + w1) / (2L * w1))
    // empty doc keeps a row with zero counts and null fertility
    assert(byId(2L) === ((0L, 0L, -1L)))
    // "concatenation" (13 chars) exceeds maxWordLen=6 → char fallback
    val (w3, t3, _) = byId(3L)
    assert(w3 === 2L)
    assert(t3 >= 13L + 1L && t3 <= 13L + 3L)
  }

  test("increment law: training from merged shard word tables equals the rebuild") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cats sat on the mats"),
      (3L, "a cat and a dog ran to the mat"),
      (4L, "dogs and cats and mats")).toDF("doc_id", "text")
    val p = Params(maxWordLen = 10, maxPieceLen = 4, seedMulti = 12,
      budgetMulti = 6, emRounds = 2)
    val rebuilt = UnigramLM.unigramTrain(docs, p).collect().map(_.toSeq)
    val merged = UnigramLM.unigramTrainFromWords(
        UnigramLM.mergeWordTables(
          UnigramLM.wordTableArtifact(docs.filter($"doc_id" <= 2), p.maxWordLen),
          UnigramLM.wordTableArtifact(docs.filter($"doc_id" > 2), p.maxWordLen)),
        p).collect().map(_.toSeq)
    assert(merged.toSeq === rebuilt.toSeq)
  }

  test("budget curve: fertility non-increasing in budget, bounded by chars-only and 1.0") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cats sat on the mats"),
      (3L, "a cat and a dog ran to the mat"),
      (4L, "dogs and cats and mats")).toDF("doc_id", "text")
    val p = Params(maxWordLen = 10, maxPieceLen = 4, seedMulti = 12,
      budgetMulti = 12, emRounds = 2)
    val curve = UnigramLM.unigramBudgetCurve(docs, budgets = Seq(0, 4, 12), p)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(curve.map(_._1).toSeq === Seq(0L, 4L, 12L))
    // n_words constant down the curve; fertility never increases with
    // budget and stays in [1.0, mean word length]
    assert(curve.map(_._2).distinct.length === 1)
    val ferts = curve.map(_._4)
    assert(ferts.zip(ferts.tail).forall { case (a, b) => b <= a })
    ferts.foreach(f => assert(f >= 1000000L && f <= 10000000L))
    // each row's fertility is the exact round-half-up ratio of its counts
    curve.foreach { case (_, w, t, f) =>
      assert(f === (t * 2000000L + w) / (2L * w))
    }
  }
}
