package graft.analysis

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable sampling for training-data pipelines.
  *
  * Why not `df.sample()`: Spark's sampler is seeded per-partition, so the
  * selected set changes with partitioning, task retries re-draw it, and no
  * other engine can reproduce it — unacceptable for a dataset card that says
  * "20% of stratum X". Hash-gating on a stable key fixes all three: a row is
  * in the sample iff `bucket(md5(key)) < fraction·buckets`, a pure
  * per-row predicate with
  *  - no shuffle (embarrassingly parallel, pipelines into the scan),
  *  - exactly-once semantics under retries,
  *  - the same selected set in any engine with an md5 function,
  *  - built-in coordination: the p% sample is a SUBSET of the q% sample for
  *    p < q (useful for nested train/val carve-outs).
  *
  * The bucket is the first 8 md5 hex chars as an integer, modulo `buckets` —
  * uniform to ~2⁻³² regardless of key distribution.
  */
object Sampling {

  val DefaultBuckets = 10000

  /** Uniform hash bucket in [0, buckets) from a stable key column. */
  def hashBucket(key: Column, buckets: Int = DefaultBuckets): Column =
    conv(substring(md5(key.cast("string")), 1, 8), 16, 10).cast("long") % buckets

  /** Stratified deterministic sample: per-stratum fractions, `default` for
    * strata not listed. One scan, no shuffle — the threshold is a when-chain
    * folded into the same codegen'd filter as the hash. */
  def stratifiedHashSample(
      df: DataFrame,
      strataCol: String,
      keyCol: String,
      fractions: Map[String, Double],
      default: Double = 0.0,
      buckets: Int = DefaultBuckets): DataFrame = {
    (fractions.values.toSeq :+ default).foreach(f =>
      require(f >= 0 && f <= 1, s"fraction out of [0,1]: $f"))
    val threshold = fractions.toSeq.sortBy(_._1).foldLeft(lit(math.round(default * buckets))) {
      case (acc, (stratum, f)) =>
        when(col(strataCol) === stratum, lit(math.round(f * buckets))).otherwise(acc)
    }
    df.filter(hashBucket(col(keyCol), buckets) < threshold)
  }

  /** Neyman-allocated stratified sample: a fixed total budget `m` is split
    * across strata proportional to N_h·S_h (stratum size × standard
    * deviation) — the allocation that minimizes the variance of the
    * stratified mean estimator (Neyman 1934). Selection within a stratum
    * is the deterministic md5 rank (lowest hashes win), so the SAMPLE SET
    * itself — not just its size — replays across runs and engines.
    *
    * Determinism discipline: S_h comes from the exact closed form
    * (n·Σx² − (Σx)²)/n² with both sums in DECIMAL — `stddev`'s double
    * accumulators would let partitioning order shift an allocation by a
    * whole row at rounding boundaries. Allocations use floor (total ≤ m);
    * n_h is also capped at the stratum size.
    * Output: idCol, strataCol, rank_in_stratum (1..n_h). */
  def neymanSample(
      df: DataFrame,
      strataCol: String,
      idCol: String,
      valCol: String,
      totalBudget: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(38, 8)
    val x = col(valCol).cast(dec)
    val stats = df.groupBy(strataCol).agg(
        count(lit(1)).as("n"), sum(x).as("sx"),
        sum((x * x).cast(dec)).as("sxx"))
      .collect().map { r =>
        val n = r.getLong(1).toDouble
        val sx = r.getDecimal(2).doubleValue()
        val sxx = r.getDecimal(3).doubleValue()
        val varPop = math.max(0.0, (n * sxx - sx * sx) / (n * n))
        (r.get(0), r.getLong(1), n * math.sqrt(varPop))
      }
    // sum the (few) per-stratum masses in stratum order: an arbitrary-order
    // double sum could differ in the last ulp from an external engine's and
    // flip a floor() allocation at a boundary
    val totalMass = stats.sortBy(_._1.toString).map(_._3).sum
    require(totalMass > 0, "neymanSample: zero variance mass across all strata")
    val alloc = stats.map { case (s, nh, mass) =>
      s -> math.min(nh, math.floor(totalBudget * mass / totalMass).toLong)
    }.toMap
    val allocCol = alloc.foldLeft(lit(0L)) { case (acc, (s, nh)) =>
      when(col(strataCol) === s, lit(nh)).otherwise(acc)
    }
    val w = Window.partitionBy(strataCol)
      .orderBy(hashBucket(col(idCol), 1000000000), col(idCol))
    df.select(col(idCol), col(strataCol))
      .withColumn("rank_in_stratum", row_number().over(w))
      .filter(col("rank_in_stratum") <= allocCol)
  }

  /** Weighted deterministic sample: inclusion probability proportional to a
    * weight column — p_i = fraction · wᵢ / mean(w), capped at 1 by the
    * bucket range itself — gated on the same md5 bucket, so every
    * [[stratifiedHashSample]] property survives (exactly-once under retries,
    * partitioning-independent, reproducible in any engine) while heavy rows
    * (long documents, high-value sessions) oversample. The mean weight is
    * ONE 1-row aggregate folded in as a literal; the per-row threshold is
    * pure double arithmetic in a fixed evaluation order so an external
    * oracle reproduces the selected set bit-for-bit. Expected sample size
    * ≈ fraction·n while few rows clamp. */
  def weightedHashSample(
      df: DataFrame,
      keyCol: String,
      weightCol: String,
      fraction: Double,
      buckets: Int = DefaultBuckets): DataFrame = {
    require(fraction >= 0 && fraction <= 1, s"fraction out of [0,1]: $fraction")
    val row = df.agg(avg(col(weightCol))).collect().head
    require(!row.isNullAt(0),
      s"weightedHashSample: no rows (or all-null $weightCol) to average")
    val meanW = row.getDouble(0)
    require(meanW > 0, s"mean($weightCol) must be positive, got $meanW")
    df.filter(hashBucket(col(keyCol), buckets) <
      lit(fraction) * lit(buckets.toDouble) * col(weightCol) / lit(meanW))
  }

  /** Exact-k weighted sampling WITHOUT replacement in one pass
    * (Efraimidis & Spirakis 2006, "Weighted random sampling with a
    * reservoir"): each row draws u ∈ (0,1] from the portable md5 hash of
    * its key and is ranked by ln(u)/w — the k LARGEST keys (closest to 0)
    * are distributed exactly as sequential weighted draws without
    * replacement. [[weightedHashSample]] is the Bernoulli sibling
    * (inclusion ∝ weight, variable sample size); this is the fixed-size
    * variant a "pick exactly k docs, quality-weighted" curation step needs.
    *
    * Determinism: u is the hash, not an RNG — the sample replays across
    * runs, engines, retries, and partitionings, and every arithmetic step
    * (double-cast, +1, one division, ln, one division) is written in the
    * same order the SQL oracle evaluates it. Scale shape: one codegen'd
    * projection feeding TakeOrderedAndProject (per-partition heaps) — no
    * shuffle of the corpus, no global sort, no reservoir state. Rows with
    * non-positive or null weight are excluded (both engines).
    * Output: sample_rank, id, w, es_key (round 9). */
  def weightedReservoir(
      df: DataFrame,
      k: Int,
      idCol: String,
      weight: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // (hash + 1) / 2^60 ∈ (0, 1] — the +1 keeps ln away from -∞
    val u = (graft.analysis.Sketches.hash60(col(idCol)).cast("double") + lit(1.0)) /
      lit(graft.analysis.Sketches.HashSpace)
    // ANSI guard: the division must be conditional on w > 0 — a plain
    // filter does not stop the projection from evaluating ln(u)/0 first
    val w = weight.cast("double")
    val key = when(w > 0, log(u) / w)
    df.select(col(idCol), w.as("w"), key.as("es_key"))
      .filter(col("w") > 0)
      .orderBy(desc("es_key"), col(idCol))
      .limit(k)
      .withColumn("sample_rank",
        row_number().over(Window.orderBy(desc("es_key"), col(idCol))))
      .select(col("sample_rank"), col(idCol), col("w"),
        round(col("es_key"), 9).as("es_key"))
  }

  /** Deterministic negative sampling for contrastive training data: each
    * anchor draws `k` pseudo-random negatives from the candidate pool,
    * ranked by md5(anchor|candidate) — no RNG state, so the drawn set is
    * reproducible across runs, engines, retries, and partitionings (the
    * property in-batch `rand()` sampling loses the moment a task retries),
    * and a fresh anchor re-draws WITHOUT disturbing other anchors' draws.
    *
    * Scale shape: anchors broadcast against the pool (the contract: the
    * anchor set is the small side — for anchor sets beyond broadcast size,
    * run per-shard with a hash filter on anchors); the per-anchor top-k is
    * one window over 〈anchor, candidate, hash〉 rows. Self-pairs excluded.
    * Output: anchor_id, neg_id, rank (1..k). */
  def negativeSample(
      pool: DataFrame,
      anchors: DataFrame,
      k: Int,
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cand = pool.select(col(idCol).as("neg_id"))
    val anc = anchors.select(col(idCol).as("anchor_id"))
    val h = md5(concat(col("anchor_id").cast("string"), lit("|"),
      col("neg_id").cast("string")))
    val w = Window.partitionBy("anchor_id").orderBy(h, col("neg_id"))
    cand.join(broadcast(anc), col("anchor_id") =!= col("neg_id"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("anchor_id", "neg_id", "rank")
  }

  /** Hard-negative mining for contrastive training (the DPR/SimCSE recipe):
    * for each anchor, the top-k most-SIMILAR candidates with a DIFFERENT
    * label — maximally confusable non-matches, which train retrieval models
    * far better than [[negativeSample]]'s uniform draws (the two operators
    * are the ends of the negative-difficulty spectrum and are typically
    * mixed). Same-label candidates are excluded by the join predicate, which
    * also excludes self (an anchor shares its own label).
    *
    * This is the exact (brute-force) scorer — anchors broadcast against the
    * corpus, one fused cosine projection, per-anchor top-k window; the
    * contract is |anchors| small, exactly [[Similarity.knnBruteForce]]'s.
    * At corpus×corpus scale, route candidate generation through the IVF/LSH
    * shortlist first (q117/q35) and re-score the shortlist here — the
    * composition q162 demonstrates.
    * Output: anchor_id, neg_id, neg_label, rank, cosine (round 4). */
  def hardNegatives(
      vectors: DataFrame,
      anchors: DataFrame,
      k: Int = 3,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val a = anchors.select(col(idCol).as("anchor_id"), col(vecCol).as("a_vec"),
      col(labelCol).as("a_label"))
    val c = vectors.select(col(idCol).as("neg_id"), col(vecCol).as("n_vec"),
      col(labelCol).as("neg_label"))
    val w = Window.partitionBy("anchor_id").orderBy(desc("cosine"), col("neg_id"))
    c.join(broadcast(a), col("a_label") =!= col("neg_label"))
      .withColumn("cosine",
        graft.functions.VectorOps.cosineSim(col("a_vec"), col("n_vec")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("anchor_id"), col("neg_id"), col("neg_label"), col("rank"),
        round(col("cosine"), 4).as("cosine"))
  }

  /** EXACTLY-k-per-group deterministic sample: the k rows with the
    * smallest md5 hash per group (all rows for groups smaller than k) —
    * the "take 1000 docs per source for the eval set" staple, with the
    * same engine-portable determinism as [[stratifiedHashSample]] (retry-stable,
    * partitioning-independent, reproducible in any engine).
    *
    * Scale shape: NOT a bare window over raw rows (a hot group would pin
    * one partition). Phase 1 computes per-group counts (map-combinable)
    * and a conservative per-group hash CUTOFF at `margin·k/n` of the hash
    * space; only survivors — expected margin·k per group — reach the
    * ranking window. The cutoff preserves exactness whenever ≥ k rows
    * survive (the k smallest hashes are all ≤ any cutoff that admits ≥ k
    * rows); groups where the tail bound misses (expected none at
    * margin 4) fall back to ranking unfiltered, so the result is EXACT
    * for every group, not probably-exact. Ties cannot occur on distinct
    * keys (md5 over the key), and identical keys tie-break by the key.
    * Output: original columns + sample_rank (1..k). */
  def samplePerGroup(
      df: DataFrame,
      groupCol: String,
      keyCol: String,
      k: Int,
      margin: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && margin >= 1, s"need k>=1 and margin>=1, got $k/$margin")
    val h = Sketches.hash60(col(keyCol))
    val counts = df.groupBy(groupCol).agg(count(lit(1)).as("__n"))
    val hashed = df.withColumn("__h", h)
      .join(broadcast(counts), groupCol)
    // cutoff = HashSpace·margin·k/n (whole space when n ≤ margin·k)
    val cutoff = when(col("__n") <= margin.toLong * k, lit(Long.MaxValue))
      .otherwise((lit(Sketches.HashSpace) * margin * k /
        col("__n").cast("double")).cast("long"))
    val survivors = hashed.filter(col("__h") <= cutoff)
    val okGroups = survivors.groupBy(groupCol)
      .agg(count(lit(1)).as("__m"), max(col("__n")).as("__ng"))
      .filter(col("__m") >= least(lit(k.toLong), col("__ng")))
    val w = Window.partitionBy(groupCol).orderBy(col("__h"), col(keyCol))
    def rank(part: DataFrame): DataFrame =
      part.withColumn("sample_rank", row_number().over(w))
        .filter(col("sample_rank") <= k)
    val survOk = survivors.join(okGroups.select(groupCol), Seq(groupCol), "left_semi")
    val fallback = hashed.join(okGroups.select(groupCol), Seq(groupCol), "left_anti")
    rank(survOk).unionByName(rank(fallback))
      .drop("__h", "__n")
  }
}
