package graft.analysis

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ML feature preparation: the operators that turn cleaned corpus/event
  * tables into model inputs. Everything is hash-deterministic (the engine's
  * portable md5 scheme), so feature pipelines are replayable across runs,
  * engines, and train/serve boundaries — the property that prevents
  * training/serving skew.
  */
object Features {

  /** The hashing trick (Weinberger et al., ICML'09): project an unbounded
    * token vocabulary into a fixed `dim`-sized feature space with a signed
    * hash — index = h1(tok) mod dim, sign = ±1 from h2(tok) — so collisions
    * cancel in expectation instead of biasing upward. No vocabulary table,
    * no fit step, mergeable by construction: the output is a sparse
    * (row, index, weight) frame from one explode + one grouped sum.
    * Output: idCol, feature_idx, weight (signed token-count sum; zero-sum
    * collisions drop). */
  def hashedFeatures(
      docs: DataFrame, dim: Int = 256,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val tok = explode(TextAnalysis.tokens(col(textCol)))
    docs
      .select(col(idCol), tok.as("tok"))
      .filter(col("tok") =!= "")
      .withColumn("feature_idx",
        pmod(Sketches.hash60(concat(lit("i|"), col("tok"))), lit(dim)))
      .withColumn("sign",
        when(Sketches.hash60(concat(lit("s|"), col("tok"))) % 2 === 0, 1L)
          .otherwise(-1L))
      .groupBy(idCol, "feature_idx")
      .agg(sum("sign").as("weight"))
      .filter(col("weight") =!= 0)
  }

  /** Leave-one-out target encoding: each row's categorical value is
    * replaced by the mean target of OTHER rows in its category —
    * (Σy − y_i)/(n − 1) — the standard high-cardinality encoder that
    * avoids leaking a row's own label into its feature. Singleton
    * categories yield null (no other rows to borrow from). Sums accumulate
    * in DECIMAL so the encoding is identical across partitionings.
    * Output: input idCol + categoryCol + target + loo_mean (round 6). */
  def looTargetEncode(
      df: DataFrame, idCol: String, categoryCol: String, targetCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 8)
    val stats = df.groupBy(categoryCol)
      .agg(sum(col(targetCol).cast(dec)).as("__sy"), count(lit(1)).as("__n"))
    df.select(col(idCol), col(categoryCol), col(targetCol))
      .join(broadcast(stats), categoryCol)
      .withColumn("loo_mean",
        when(col("__n") > 1,
          round((col("__sy").cast("double") - col(targetCol).cast("double")) /
            (col("__n") - 1).cast("double"), 6)))
      .select(idCol, categoryCol, targetCol, "loo_mean")
  }

  /** Winsorized min-max scaling: clip a numeric feature at the [pLow, pHigh]
    * percentiles, then scale the clipped value into [0, 1] — the robust
    * normalizer every feature pipeline applies where raw min-max would let
    * one outlier compress the whole distribution into a corner. Percentile
    * cutpoints come from ONE `percentile` aggregate (exact; swap
    * percentile_approx at 100 TB — same plumbing) broadcast as a 1-row
    * frame, so scaling is a pure projection afterward. Degenerate spread
    * (lo == hi) scales to 0.5 — mid-range, not a divide-by-zero.
    * Output: idCol, value, clipped, scaled (round 6). */
  def winsorizedScale(
      df: DataFrame, idCol: String, valCol: String,
      pLow: Double = 0.05, pHigh: Double = 0.95): DataFrame = {
    require(pLow >= 0 && pHigh <= 1 && pLow < pHigh, s"bad percentile range [$pLow, $pHigh]")
    val cuts = df.agg(
      percentile(col(valCol).cast("double"), array(lit(pLow), lit(pHigh))).as("c"))
      .select(element_at(col("c"), 1).as("lo"), element_at(col("c"), 2).as("hi"))
    df.select(col(idCol), col(valCol).cast("double").as("value"))
      .filter(col("value").isNotNull)
      .crossJoin(broadcast(cuts))
      .withColumn("clipped", least(greatest(col("value"), col("lo")), col("hi")))
      .withColumn("scaled",
        when(col("hi") === col("lo"), lit(0.5))
          .otherwise(round((col("clipped") - col("lo")) / (col("hi") - col("lo")), 6)))
      .select(col(idCol), col("value"), round(col("clipped"), 6).as("clipped"), col("scaled"))
  }

  /** Full-batch logistic regression by gradient descent — the
    * quality-classifier training step of a filtering pipeline (FastText-
    * style quality filters are exactly this: a linear model over cheap
    * document features), built the [[Clustering.lloydCentroids]] way so a
    * SQL engine replays training bit-for-bit:
    *
    *  - weights live on the DRIVER (dim-sized, broadcast as literals into
    *    each epoch's projection — no parameter shuffle);
    *  - each epoch is ONE distributed aggregate: gradient components
    *    Σ xᵢ_d·(yᵢ − pᵢ) are DECIMAL-cast per row before summing;
    *  - the sigmoid is double-rounded (z and p both to 6dp): engines may
    *    disagree by 1 ulp on exp(), and the rounding quarantines that to a
    *    ~1e-10 boundary probability instead of letting it compound.
    *
    * Scale shape: iterations × one scan; driver state = k doubles. This is
    * the textbook distributed-GD layout (compute gradients where the data
    * is, keep the model where the coordination is).
    * Output: dim, feature, weight (round 6) — one row per feature. */
  def logisticRegressionGD(
      data: DataFrame,
      featureCols: Seq[String],
      labelCol: String,
      iterations: Int = 3,
      lr: Double = 0.5): DataFrame = {
    val w = logisticWeights(data, featureCols, labelCol, iterations, lr)
    val spark = data.sparkSession
    import spark.implicits._
    featureCols.zipWithIndex.map { case (f, d) => (d, f, w(d)) }
      .toDF("dim", "feature", "weight")
      .select(col("dim"), col("feature"), round(col("weight"), 6).as("weight"))
  }

  /** The training loop behind [[logisticRegressionGD]], returning the raw
    * weight vector so downstream scoring ([[sigmoidScore]]) can embed it
    * as literals — q152/q153 compose it into calibration and AUC reports. */
  def logisticWeights(
      data: DataFrame,
      featureCols: Seq[String],
      labelCol: String,
      iterations: Int = 3,
      lr: Double = 0.5): Array[Double] = {
    require(featureCols.nonEmpty && iterations >= 1 && lr > 0,
      s"need features/iterations/lr, got ${featureCols.size}/$iterations/$lr")
    val dec = org.apache.spark.sql.types.DecimalType(28, 12)
    val pts = data
      .select(featureCols.map(col) :+ col(labelCol).as("__y"): _*)
      .persist()
    try {
      val w = Array.fill(featureCols.size)(0.0)
      for (_ <- 1 to iterations) {
        val p = sigmoidScore(featureCols, w)
        val aggs = featureCols.map(f =>
          sum((col(f) * (col("__y") - p)).cast(dec)).cast("double").as(s"g_$f")) :+
          count(lit(1)).as("__n")
        val row = pts.agg(aggs.head, aggs.tail: _*).collect().head
        val n = row.getAs[Long]("__n")
        featureCols.zipWithIndex.foreach { case (f, d) =>
          w(d) = w(d) + lr * row.getAs[Double](s"g_$f") / n
        }
      }
      w
    } finally { pts.unpersist(); () }
  }

  /** The engine-parity sigmoid: z and p both rounded to 6dp (quarantines
    * cross-engine exp() ulps), weights inlined as literals in dim order. */
  def sigmoidScore(featureCols: Seq[String], w: Array[Double]): org.apache.spark.sql.Column = {
    val z = featureCols.zipWithIndex
      .map { case (f, d) => lit(w(d)) * col(f) }
      .reduce(_ + _)
    round(lit(1.0) / (lit(1.0) + exp(-round(z, 6))), 6)
  }

  /** Operating-point selection: sweep every distinct score as the
    * "predict positive when score ≥ t" threshold and return the F1-argmax
    * row — the step that turns a trained scorer ([[logisticWeights]]) into
    * a deployable FILTER. Candidate thresholds are the observed scores
    * (between two observed scores the confusion matrix is constant, so
    * nothing else needs sweeping).
    *
    * Scale shape: one grouped count per score, one cumulative window over
    * the score-distinct-sized frame, and a TakeOrdered(1) — never a
    * per-threshold rescan. TP/FP/FN stay INTEGER; precision/recall/F1 are
    * three fixed-order double ratios, ties broken toward the smaller
    * threshold. Output (1 row): threshold, tp, fp, fn, precision, recall,
    * f1 (round 6). */
  def f1ThresholdSweep(
      scored: DataFrame,
      scoreCol: String = "score",
      labelCol: String = "y"): DataFrame = {
    // exclusive prefix counts over the distinct-score grid via the
    // distributed recipe (continuous scores make the grid O(n); inclusive
    // cum minus the row's own count = the strict-predecessor sum)
    val g = scored
      .groupBy(col(scoreCol).as("t"))
      .agg(sum(col(labelCol).cast("long")).as("np"),
        (count(lit(1)) - sum(col(labelCol).cast("long"))).as("nn"))
    val c = graft.relational.Relational.distributedCumSum(g, Seq("t"), Seq("np", "nn"))
      .withColumn("cump", col("cum_np") - col("np"))
      .withColumn("cumn", col("cum_nn") - col("nn"))
    val tot = g.agg(sum("np").as("tp_all"), sum("nn").as("nn_all"))
    val m = c.crossJoin(broadcast(tot))
      .select(col("t").as("threshold"),
        (col("tp_all") - col("cump")).as("tp"),
        (col("nn_all") - col("cumn")).as("fp"),
        col("cump").as("fn"),
        col("tp_all"))
      .withColumn("precision",
        when(col("tp") + col("fp") > 0,
          col("tp").cast("double") / (col("tp") + col("fp")).cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("recall", col("tp").cast("double") / col("tp_all").cast("double"))
      .withColumn("f1",
        when(col("precision") + col("recall") > 0,
          lit(2.0) * col("precision") * col("recall") / (col("precision") + col("recall")))
          .otherwise(lit(0.0)))
    m.orderBy(desc("f1"), col("threshold")).limit(1)
      .select(col("threshold"), col("tp"), col("fp"), col("fn"),
        round(col("precision"), 6).as("precision"),
        round(col("recall"), 6).as("recall"),
        round(col("f1"), 6).as("f1"))
  }

  /** Split-conformal calibration (Vovk et al.; Angelopoulos & Bates 2021
    * tutorial form) — the distribution-free uncertainty layer over a
    * trained scorer: nonconformity s = |y − score| on a held-out
    * CALIBRATION slice, q̂ = the ⌈(n+1)(1−α)⌉-th smallest calibration s
    * (an exact order statistic — integer rank arithmetic, no interpolated
    * quantiles, so it is engine-reproducible to the bit), and the
    * guarantee P(|y − score| ≤ q̂) ≥ 1−α holds on exchangeable test data
    * REGARDLESS of how bad the scorer is. The report checks that promise
    * empirically on a disjoint test slice.
    *
    * Scale shape: both inputs reduce to a residual column; the order
    * statistic comes from the SHUFFLE-FREE iterative bin-refinement probe
    * ([[graft.relational.Relational.exactRankProbe]] — the q109 exact-
    * quantile engine generalized to an arbitrary rank), never a global
    * row_number window: calibration sets are small by design, but at
    * 100 TB "small" is relative, and a bare Window.orderBy sorts the
    * whole slice in one task. Coverage is one aggregate over test with
    * q̂ folded in as a plan literal.
    * Output (1 row): n_calib, n_test, q_hat, target (1−α), coverage
    * (round 6), holds. */
  def conformalReport(
      calib: DataFrame,
      test: DataFrame,
      scoreCol: String = "score",
      labelCol: String = "y",
      alphaBp: Int = 1000): DataFrame = {
    require(alphaBp > 0 && alphaBp < 10000, s"need alpha in (0,1), got $alphaBp bp")
    val spark = calib.sparkSession
    def resid(df: DataFrame) =
      df.select(abs(col(labelCol) - col(scoreCol)).cast("double").as("s"))
    val target = (10000 - alphaBp) / 10000.0
    // persist the residual column across the probe's refinement passes:
    // calib often arrives with an expensive lineage (a trained scorer),
    // and each pass would otherwise re-run it end-to-end (measured 2.5 s
    // -> sub-second at sf0.1 on q175's logreg chain)
    val calRes = resid(calib)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // k = ceil((n+1)(1-alpha)) in pure integer arithmetic; clamped to n
    val probed = try graft.relational.Relational.exactRankProbe(calRes, "s",
        n => math.min(((n + 1) * (10000L - alphaBp) + 9999L) / 10000L, n),
        bins = 1024)
      finally { calRes.unpersist(); () }
    probed match {
      case None =>
        // empty calibration slice: no q̂ exists — mirror the pre-r8
        // degenerate shape (null report, zero counts), not a crash
        spark.range(1).select(
          lit(null).cast("bigint").as("n_calib"), lit(0L).as("n_test"),
          lit(null).cast("double").as("q_hat"), lit(target).as("target"),
          lit(null).cast("double").as("coverage"),
          lit(null).cast("boolean").as("holds"))
      case Some((qHat, nCalib, _, _)) =>
        resid(test)
          .agg(count(lit(1)).as("n_test"),
            sum(when(col("s") <= qHat, 1L).otherwise(0L)).as("covered"))
          .select(lit(nCalib).as("n_calib"), col("n_test"),
            lit(qHat).as("q_hat"), lit(target).as("target"),
            round(col("covered").cast("double") / col("n_test").cast("double"), 6)
              .as("coverage"),
            (col("covered").cast("double") / col("n_test").cast("double")
              >= lit(target)).as("holds"))
    }
  }

  /** pass@k (Chen et al., 2021 — the Codex estimator): per task with n
    * sampled attempts of which c are correct, the unbiased probability
    * that at least one of k drawn attempts is correct,
    * pass@k = 1 − C(n−c, k)/C(n, k), aggregated to a per-k corpus mean.
    * THE sampling-eval metric for generation tasks; here over any
    * (task, correct-flag) attempt frame.
    *
    * Scale shape: attempts reduce to 〈task, n, c〉 in one map-side
    * combinable aggregate; the k-grid cross join and the factor products
    * run on that task-sized frame with a ≤|ks| fan-out; the final report
    * is |ks| rows. Nothing data-sized after the first shuffle.
    *
    * Cross-build portability: the combinatorial ratio is evaluated as the
    * left-assoc product Π_{i<k}(n−c−i)/(n−i) — integer-input IEEE
    * divisions and multiplies, bit-identical on any engine (no factorials
    * to overflow, no lgamma) — then quantized once to BIGINT micro-units;
    * sums and the per-k mean are round-half-up integer division. Tasks
    * with n < k are excluded (the estimator is undefined there);
    * n−c < k ⇒ C(n−c,k)=0 ⇒ pass@k exactly 1.
    * Output per k (asc): k, n_tasks, sum_pass_micro, mean_pass_micro. */
  def passAtK(
      attempts: DataFrame,
      taskCol: String,
      correctCol: String,
      ks: Seq[Int] = Seq(1, 5, 10)): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), "ks must be >= 1")
    val perTask = attempts
      .filter(col(taskCol).isNotNull)
      .groupBy(col(taskCol).as("task"))
      .agg(count(lit(1)).as("n"),
        sum(when(col(correctCol), 1L).otherwise(0L)).as("c"))
      // one branch per k below — without the checkpoint each branch
      // re-runs the data-sized attempt aggregate (the q211 melt lesson)
      .localCheckpoint(true)
    val kRows = ks.distinct.sorted.map { k =>
      // Π_{i<k} (n−c−i)/(n−i), built as one fixed left-assoc chain so the
      // oracle's spelled-out product lands on identical doubles
      val prod = (0 until k)
        .map(i => (col("n") - col("c") - lit(i)).cast("double") /
          (col("n") - lit(i)).cast("double"))
        .reduce(_ * _)
      val failMicro = when(col("n") - col("c") < k, lit(0L))
        .otherwise(floor(prod * lit(1e6) + lit(0.5)).cast("long"))
      perTask.filter(col("n") >= k)
        .select((lit(1000000L) - failMicro).as("pass_micro"))
        .agg(count(lit(1)).as("n_tasks"), sum("pass_micro").as("sum_pass_micro"))
        .select(lit(k).as("k"), col("n_tasks"), col("sum_pass_micro"),
          // null, not a division-by-zero, when no task has n >= k
          expr("CASE WHEN n_tasks = 0 THEN NULL " +
            "ELSE (2 * sum_pass_micro + n_tasks) div (2 * n_tasks) END")
            .as("mean_pass_micro"))
    }
    kRows.reduce(_.unionByName(_)).orderBy("k")
  }
}
