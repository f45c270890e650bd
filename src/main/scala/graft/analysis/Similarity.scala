package graft.analysis

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Three paths, per the standard ANN playbook:
  *  - [[knnBruteForce]]: exact top-k by cosine — broadcast the (small) query
  *    set against the corpus; per-row cost is one fused dot-product
  *    expression, no shuffle until the final per-query top-k. This is the
  *    correctness baseline and is actually optimal when |queries| is small.
  *  - [[knnLshWith]]: sign-LSH (Charikar) — corpus is bucketed by a bit
  *    signature, queries probe only their own bucket. Sub-linear candidate
  *    sets at the cost of recall; the scale path for corpus×corpus.
  *  - [[knnIvf]]: k-means coarse quantizer + probed cells — data-adaptive
  *    buckets; better recall/cost than LSH on clustered corpora.
  *
  * Scoring runs through [[graft.functions.VectorOps.cosineSim]] — a native
  * Catalyst expression computing dot + norms in one primitive loop inside
  * whole-stage codegen. The composable `zip_with`/`aggregate` forms ([[dot]],
  * [[l2Norm]], [[cosine]]) remain for ad-hoc use and mixed-type inputs
  * (e.g. the IVF centroid distances against double literals).
  */
object Similarity {

  /** Σ aᵢ·bᵢ as a fused expression (floats upcast to double first). */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0),
      (acc, v) => acc + v)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Exact top-k neighbors for each query vector.
    * Queries are broadcast (they must be small — that is the contract of this
    * path); the corpus scan computes cosine in one fused projection, then a
    * per-query window keeps k rows. */
  def knnBruteForce(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 5,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    topKByCosine(c.join(broadcast(q), col("query_id") =!= col("neighbor_id")), k)
  }

  /** Shared ANN tail: score candidate 〈query, neighbor〉 rows by cosine
    * (expects float-array columns c_vec/q_vec), rank per query with
    * deterministic ties, keep k. */
  private def topKByCosine(candidates: DataFrame, k: Int): DataFrame = {
    val scored = candidates.withColumn("cosine",
      graft.functions.VectorOps.cosineSim(col("c_vec"), col("q_vec")))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), round(col("cosine"), 4).as("cosine"))
  }

  /** Axis-aligned sign signature: bit j = sign of component j, packed into
    * a long. Sign-LSH against the coordinate hyperplanes, so it is
    * trivially replicable in plain SQL: an LSH-bucketed query can be gated
    * against a DuckDB oracle exactly — buckets, candidates, and ranks all
    * match. */
  def axisSignSignature(vec: Column, nBits: Int): Column =
    (0 until nBits)
      .map(j => when(element_at(vec, j + 1) >= 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)

  /** Occupancy-constant signature width: the bit count that keeps expected
    * vectors-per-bucket at `targetOccupancy` for a corpus of `n` — the
    * scale dial for every fixed-signature LSH bucketing here. A FIXED bit
    * count is quadratic in disguise: per-bucket occupancy grows ∝ n, so
    * in-bucket candidate pairs grow ∝ n² (measured: q72 at 30× sf0.1 runs
    * 27.5 s at the gate's pinned 6 bits vs 4.9 s at the 11 bits this
    * returns — PLANS.md §30×). Production callers pass
    * `axisSignSignature(v, axisSignBitsFor(corpusSize))`; more bits
    * tighten candidate recall, the same dial q180's S-curve measures for
    * MinHash bands. Capped at `dim` (an axis signature cannot use more
    * planes than dimensions) and at 62 (long-typed bucket). */
  def axisSignBitsFor(n: Long, targetOccupancy: Int = 32, dim: Int = 64): Int = {
    require(n > 0 && targetOccupancy > 0,
      s"need positive corpus size and occupancy, got $n/$targetOccupancy")
    // INTEGER bit-length, not ceil(log/log): math.log(2^k)/math.log(2)
    // lands at k + 4e-15 for several k (measured k=29), so the ceil
    // overshoots by one exactly at power-of-two boundaries — the ulp class
    // of bug this repo quarantines in oracles, living in the JVM instead.
    // needed = ceil(log2(ceil(n/occ))) via numberOfLeadingZeros, exact.
    val cdivM1 = (n + targetOccupancy - 1) / targetOccupancy - 1
    val needed =
      if (cdivM1 <= 0) 1 else 64 - java.lang.Long.numberOfLeadingZeros(cdivM1)
    math.min(math.min(dim, 62), math.max(1, needed))
  }

  /** ANN top-k: bucket corpus and queries by `signatureOf` (e.g.
    * [[axisSignSignature]] for engine-portable buckets), search only within
    * the bucket. Recall < 1 by construction; more signature bits give purer
    * buckets (less work, lower recall). The shuffle is on the bucket key —
    * at 10⁹ vectors each bucket holds ~n/2^bits candidates, so per-query
    * work drops accordingly. */
  def knnLshWith(
      corpus: DataFrame,
      queries: DataFrame,
      signatureOf: Column => Column,
      k: Int = 5,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
      signatureOf(col(vecCol)).as("bucket"))
    val q = queries.select(
      col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      signatureOf(col(vecCol)).as("bucket"))
    topKByCosine(
      c.join(broadcast(q), Seq("bucket")).filter(col("query_id") =!= col("neighbor_id")), k)
  }

  /** IVF (inverted-file) ANN: a k-means coarse quantizer partitions the
    * corpus into `nCells` cells; each query probes only its `nProbe`
    * nearest cells. The standard middle ground between brute force and LSH:
    * data-adaptive cells give better recall/cost than random hyperplanes on
    * clustered corpora (this is the Faiss IVF-Flat shape, expressed as a
    * Spark join).
    *
    * Cosine consistency: vectors are L2-normalized before clustering and
    * cell assignment, so L2-nearest cell == cosine-nearest cell — without
    * this, magnitude would dominate cell shape while the final ranking uses
    * cosine, and recall would collapse for off-magnitude neighbors.
    *
    * Scale shape: k-means fits on a bounded sample with bounded iterations;
    * the nCells centroids ship as expression literals, so cell assignment is
    * a map-side codegen'd argmin (no shuffle); the probe join shuffles on
    * cell id only.
    * Reproducible for a fixed input layout (seeded); k-means|| sampling
    * still varies with partitioning, so treat cell membership as
    * approximate, not a stable artifact across engines.
    */
  /** L2-normalize a vector column. The norm is let-bound through a
    * single-element transform so it evaluates once per row in every
    * execution path (same CSE-trap avoidance as Dedup.shingles — an
    * unbound reference would recompute the full dot product per element). */
  private[analysis] def unit(v: Column): Column =
    element_at(
      transform(array(l2Norm(v)), n =>
        transform(v, x => when(n > 0, x.cast(DoubleType) / n).otherwise(lit(0.0)))),
      1)

  /** Nearest `n` cells of a vector as a pure projection: the unit vector is
    * let-bound once per row, then distance to each centroid literal is
    * computed from the bound variable, packed as (d2, cell) structs, sorted
    * (lexicographic = deterministic (distance, cell) tie-break), sliced. */
  private def nearestCells(
      centroids: Array[Array[Double]], v: Column, n: Int): Column =
    element_at(
      transform(array(unit(v)), u => {
        val dists = centroids.zipWithIndex.map { case (c, i) =>
          val cLit = array(c.map(lit): _*)
          struct(
            aggregate(zip_with(u, cLit, (x, y) => (x - y) * (x - y)),
              lit(0.0), (acc, d) => acc + d).as("d2"),
            lit(i).as("cell"))
        }
        transform(slice(array_sort(array(dists: _*)), 1, n), s => s.getField("cell"))
      }),
      1)

  /** Probe join shared by the IVF variants: corpus rows keyed by their ONE
    * nearest cell, queries exploded over their `nProbe` nearest cells,
    * equi-join on cell id, exact cosine ranking within the candidates. */
  private def ivfProbe(
      corpus: DataFrame, queries: DataFrame,
      centroids: Array[Array[Double]], k: Int, nProbe: Int,
      idCol: String, vecCol: String): DataFrame = {
    val corpusCells = corpus.select(
      col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
      element_at(nearestCells(centroids, col(vecCol), 1), 1).as("cell"))
    val queryCells = queries.select(
      col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      explode(nearestCells(centroids, col(vecCol), nProbe)).as("cell"))
    val candidates = corpusCells.join(broadcast(queryCells), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
    topKByCosine(candidates, k)
  }

  def knnIvf(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 5,
      nCells: Int = 16,
      nProbe: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      seed: Long = 42L,
      maxFitRows: Int = 100000): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector

    // bounded, seeded fit on normalized vectors — training is a cheap
    // capped step (limit, not a count+sample pass), and a coarse quantizer
    // needs neither k-means|| init nor many iterations
    // persist: k-means re-evaluates its input once per init/iteration pass —
    // uncached, that is 6-7 scan+normalize passes and the dominant variance
    val fitInput = corpus.limit(maxFitRows.toInt)
      .select(array_to_vector(unit(col(vecCol))).as("features"))
      .persist()
    val centroids =
      try new KMeans()
        .setK(nCells).setSeed(seed).setMaxIter(5).setInitMode("random")
        .setFeaturesCol("features")
        .fit(fitInput)
        .clusterCenters.map(_.toArray)
      finally { fitInput.unpersist(); () }

    ivfProbe(corpus, queries, centroids, k, nProbe, idCol, vecCol)
  }

  /** [[knnIvf]] with the DETERMINISTIC Lloyd quantizer
    * ([[Clustering.lloydCentroids]]) in place of the ML-library k-means:
    * first-nCells-by-id init, fixed-order distance sums, DECIMAL centroid
    * means — every step replayable in an external SQL engine. That turns
    * the sub-linear probe path into an oracle-checkable operator: q117
    * gates nProbe < nCells, where the quantizer, the per-query cell
    * CHOICE, and the probed ranking must all match a DuckDB rebuild —
    * unlike q37, whose nProbe = nCells setting only proves probing is
    * lossless when it is exhaustive.
    *
    * Same scale shape as [[knnIvf]]: bounded fit (nCells·dim driver state),
    * cell assignment as a map-side codegen'd argmin against centroid
    * literals, probe join shuffling on cell id only. Fit is over the full
    * corpus (deterministically — no sample) because the gate demands
    * replayability; cap the corpus upstream if fitting cost matters. */
  def knnIvfDeterministic(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 5,
      nCells: Int = 8,
      nProbe: Int = 2,
      quantizerIters: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val unitized = corpus.select(col(idCol), unit(col(vecCol)).as("__u"))
    val centroids =
      Clustering.lloydCentroids(unitized, nCells, quantizerIters, idCol, "__u")
    ivfProbe(corpus, queries, centroids, k, nProbe, idCol, vecCol)
  }

  /** IVF OPERATING-POINT CURVE: recall@k and candidate volume per nProbe —
    * the probe-budget dial measured, completing the tuning-curve family
    * (q180 = MinHash bands, q161 = PQ bit rate, this = IVF probes). Each
    * operating point is scored against the exact top-k: `n_candidates` is
    * the cost (vectors actually scored), `recall` the quality. In
    * production the exact arm runs over a SAMPLED query set exactly like
    * this single-query gate form.
    *
    * Scale shape: the quantizer is the bounded deterministic Lloyd fit;
    * the corpus is cell-assigned ONCE and persisted across all operating
    * points; each point adds only a probe-cell broadcast join and a k-row
    * intersection. The exact arm is one broadcast-query scan.
    * Output: n_probe, n_candidates, n_common, recall (6dp). */
  def ivfNprobeCurve(
      corpus: DataFrame,
      queryId: Long = 0L,
      nProbes: Seq[Int] = Seq(1, 2, 4, 8),
      k: Int = 10,
      nCells: Int = 8,
      quantizerIters: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(nProbes.nonEmpty && nProbes.forall(p => p >= 1 && p <= nCells),
      s"nProbes must be within [1, $nCells], got $nProbes")
    val unitized = corpus.select(col(idCol), unit(col(vecCol)).as("__u"))
    val centroids =
      Clustering.lloydCentroids(unitized, nCells, quantizerIters, idCol, "__u")
    val query = corpus.filter(col(idCol) === queryId)
    val exact = knnBruteForce(corpus, query, k, idCol, vecCol)
      .select(col("neighbor_id")).persist()
    val corpusCells = corpus.select(
        col(idCol).as("neighbor_id"),
        element_at(nearestCells(centroids, col(vecCol), 1), 1).as("cell"))
      .filter(col("neighbor_id") =!= queryId).persist()
    try {
      nProbes.map { np =>
        val probeCells = query.select(
          explode(nearestCells(centroids, col(vecCol), np)).as("cell"))
        val cand = corpusCells.join(broadcast(probeCells), "cell")
        val approx = ivfProbe(corpus, query, centroids, k, np, idCol, vecCol)
          .select(col("neighbor_id"))
        cand.agg(count(lit(1)).as("n_candidates"))
          .crossJoin(approx.join(exact, "neighbor_id")
            .agg(count(lit(1)).as("n_common")))
          .select(lit(np).as("n_probe"), col("n_candidates"), col("n_common"),
            round(col("n_common").cast(DoubleType) / k, 6).as("recall"))
      }.reduce(_ unionByName _)
    } finally { exact.unpersist(); corpusCells.unpersist(); () }
  }

  /** MATRYOSHKA truncation-recall curve (Kusupati et al. 2022): rank by
    * cosine over only the FIRST d dimensions and measure top-k agreement
    * with the full-dimension ranking, per d. MRL-trained embeddings keep
    * recall high at small d, so this curve is the measurement that licenses
    * storing/searching a d-dim prefix (d/64ths of the index bytes and
    * FLOPs) — the dimension-axis sibling of [[ivfNprobeCurve]]'s cell axis
    * and [[knnPqAdc]]'s code axis.
    *
    * The gate is ALL-INTEGER: per-d overlap counts and a ppm recall via
    * integer division — the ranking itself is the only float stage, and it
    * reuses the exact q33 cosine fold both engines already agree on.
    *
    * Scale shape: one broadcast-queries brute-force scan per d (+1 full) —
    * the exact arm is the MEASUREMENT here, as in [[ivfNprobeCurve]]; at
    * corpus scale the same curve runs over a sampled query set, and
    * truncation itself is a projection (slice), never a shuffle.
    * Output per d: dim, k, n_queries, n_common, recall_ppm. */
  def matryoshkaRecall(
      corpus: DataFrame,
      queryPred: Column,
      dims: Seq[Int] = Seq(8, 16, 32),
      k: Int = 10,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(dims.nonEmpty && dims.forall(_ >= 1), s"bad dims $dims")
    val queries = corpus.filter(queryPred)
    val full = knnBruteForce(corpus, queries, k, idCol, vecCol)
      .select("query_id", "neighbor_id").persist()
    val nq = queries.agg(count(lit(1)).as("n_queries"))
    try {
      dims.map { d =>
        val t = corpus.withColumn(vecCol, slice(col(vecCol), 1, d))
        val qt = queries.withColumn(vecCol, slice(col(vecCol), 1, d))
        knnBruteForce(t, qt, k, idCol, vecCol)
          .select("query_id", "neighbor_id")
          .join(full, Seq("query_id", "neighbor_id"))
          .agg(count(lit(1)).as("n_common"))
          .select(lit(d).as("dim"), lit(k).as("k"), col("n_common"))
      }.reduce(_ unionByName _)
        .crossJoin(nq)
        .select(col("dim"), col("k"), col("n_queries"), col("n_common"),
          expr("n_common * 1000000 div (k * n_queries)").as("recall_ppm"))
        .orderBy("dim")
        // materialize before the finally-unpersist below would drop `full`
        .localCheckpoint(true)
    } finally { full.unpersist(); () }
  }

  /** LOCAL OUTLIER FACTOR (Breunig et al. 2000) over an embedding column —
    * the density-contrast outlier score curation pipelines use to prune
    * embedding-space junk (mislabeled scrapes, encoder failures) that a
    * global distance threshold misses: LOF ≈ 1 inside any uniform cluster
    * regardless of its density; LOF >> 1 only where a point is sparser
    * than ITS OWN neighbors.
    *
    * FIXED-POINT construction — the whole statistic is integer after one
    * deterministic distance quantization, so the gate needs no margin
    * spec and no float sums ever shuffle:
    *   dm(p,o)   = ⌊√(Σ(xᵢ−yᵢ)²)·10⁶ + 0.5⌋        (exact fold + one sqrt)
    *   kNN       = row_number over (dm, o)            (integer ordering —
    *               cross-engine ties impossible)
    *   reach     = max(kdist(o), dm(p,o))             (integer)
    *   lrd       = k·10¹² div Σreach                  (integer division)
    *   LOF_ppm   = Σ lrd(o) · 10⁶ div (k · lrd(p))    (integer division)
    *
    * Scale shape: the pairwise stage here is the exact all-pairs arm —
    * a DIAGNOSTIC, quarantined exactly like [[embeddingNearDupPairsExact]];
    * at corpus scale the same lattice runs over IVF-cell-bounded candidate
    * pairs ([[lofOutliersIvf]], the q37 recipe) and everything downstream
    * of `dm` is unchanged (two grouped integer aggregates + two joins on
    * point id). Output: vec_id, lof_ppm (null when a point's reach sum
    * degenerates — exact-duplicate neighborhoods). */
  def lofOutliers(
      corpus: DataFrame,
      k: Int = 5,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val v = lofVectors(corpus, idCol, vecCol)
    lofLattice(
      lofPairDistances(
        v.select(col("id").as("p"), col("v").as("a_v"), col("n2").as("a_n2")),
        v.select(col("id").as("o"), col("v").as("b_v"), col("n2").as("b_n2")),
        col("p") =!= col("o")),
      k)
  }

  /** IVF-cell LOF: the identical fixed-point lattice over candidate pairs
    * bounded to each point's deterministic-Lloyd cell (the q37/q117/q164
    * recipe) — the pair stage is Σ|cell|² and shuffles on the cell id.
    * With nCells=1 the cell is exhaustive and this is bit-identical to
    * [[lofOutliers]] (SimilaritySpec pins the law).
    *
    * SCALE HONESTY (BENCHSCALE10): a FIXED cell count is quadratic with a
    * 1/nCells constant — occupancy grows ∝ n, in-cell pairs ∝ n²/nCells —
    * measured slope 2.43 at 10→30× (641.7 s at 30× vs the exact arm's
    * projected hours). Growing nCells with the corpus does not save the
    * flat quantizer: assignment against ~n/occ centroid literals is
    * itself quadratic work and unbounded plan size. This stays gated as
    * the DIAGNOSTIC twin whose oracle replays the Lloyd quantizer; the
    * production path is [[lofOutliersLsh]] (adaptive-width sign buckets,
    * measured slope ≈0.25 through 30×). Neighborhood truncation at cell
    * borders is the usual IVF recall trade — LOF reads density CONTRAST,
    * which borders distort far less than absolute density. Everything
    * downstream of `dm` is [[lofLattice]], shared verbatim. */
  def lofOutliersIvf(
      corpus: DataFrame,
      k: Int = 5,
      nCells: Int = 8,
      quantizerIters: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && nCells >= 1, s"need k/nCells >= 1, got $k/$nCells")
    val unitized = corpus.select(col(idCol), unit(col(vecCol)).as("__u"))
    val centroids =
      Clustering.lloydCentroids(unitized, nCells, quantizerIters, idCol, "__u")
    val v = lofVectors(corpus, idCol, vecCol)
      .withColumn("cell", element_at(nearestCells(centroids, col("v"), 1), 1))
    lofLattice(
      lofPairDistances(
        v.select(col("id").as("p"), col("v").as("a_v"), col("n2").as("a_n2"),
          col("cell")),
        v.select(col("id").as("o"), col("v").as("b_v"), col("n2").as("b_n2"),
          col("cell").as("cell_o")),
        col("cell") === col("cell_o") && col("p") =!= col("o")),
      k)
  }

  /** LOF over ADAPTIVE-WIDTH LSH buckets — the 100-TB shape. The IVF twin
    * above keeps a FIXED cell count, so per-cell occupancy grows ∝ n and
    * its pair stage is quadratic-with-a-constant (BENCHSCALE10: slope 2.4
    * at 10→30×, 642 s at 30× — the same fixed-capacity knee class as the
    * 6-bit signature q243 closed). Here each point's kNN is searched
    * inside its [[axisSignSignature]] bucket with
    * [[axisSignBitsFor]]-derived width, so bucket count GROWS with the
    * corpus and occupancy stays ~`targetOccupancy` at any scale — pair
    * volume stays ~n·occupancy, the measured-sub-linear q243 recipe. A
    * flat quantizer cannot do this (occupancy-constant cells would need
    * nCells ∝ n, and flat assignment against that many centroids is
    * itself quadratic); sign buckets assign in one codegen'd projection.
    * Neighborhood truncation at bucket borders is the IVF trade again,
    * softened by the same density-contrast argument. Occupancy doubles as
    * the kNN floor: targetOccupancy ≥ ~6k keeps E[|bucket|] ≫ k.
    * Everything downstream of `dm` is [[lofLattice]], shared verbatim. */
  def lofOutliersLsh(
      corpus: DataFrame,
      k: Int = 5,
      targetOccupancy: Int = 32,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      dim: Int = 64): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val bits = axisSignBitsFor(corpus.count(), targetOccupancy, dim)
    val v = lofVectors(corpus, idCol, vecCol)
      .withColumn("bucket", axisSignSignature(col("v"), bits))
    lofLattice(
      lofPairDistances(
        v.select(col("id").as("p"), col("v").as("a_v"), col("n2").as("a_n2"),
          col("bucket")),
        v.select(col("id").as("o"), col("v").as("b_v"), col("n2").as("b_n2"),
          col("bucket").as("bucket_o")),
        col("bucket") === col("bucket_o") && col("p") =!= col("o")),
      k)
  }

  /** [[axisSignSignature]] with the planes taken from a ROTATED dimension
    * window: bit j reads the sign of dimension (j + offset) mod dim. With
    * offset 0 this IS [[axisSignSignature]]; distinct offsets give
    * independent hash tables over the same vectors — pure index
    * arithmetic, so any engine rebuilds the identical signature. */
  def axisSignSignatureAt(
      vec: Column, nBits: Int, offset: Int, dim: Int): Column =
    (0 until nBits).map { j =>
      val d = (j + offset) % dim
      when(element_at(vec, d + 1) >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** MULTI-TABLE LSH LOF — the recall repair for [[lofOutliersLsh]]'s
    * verdict gap, measured by q251: single-table bucket truncation agrees
    * with exact LOF on only ~12% of top-50 verdicts at the default
    * occupancy (and the occupancy dial buys agreement sub-linearly:
    * 34% at occupancy 512). The standard LSH answer is L independent
    * tables: here table t hashes the SAME adaptive width over a rotated
    * dimension window ([[axisSignSignatureAt]], offset t·(dim/nTables)),
    * candidate pairs are the DISTINCT union across tables, and the
    * lattice is unchanged. A point's neighborhood is truncated only if
    * EVERY table separates it from its true neighbors, so recall rises
    * geometrically in L while pair volume rises only linearly
    * (~n·occupancy·L — still the sub-linear q243 scale shape, a
    * constant-factor L over q247). nTables = 1 is bit-identical to
    * [[lofOutliersLsh]] (SimilaritySpec pins the law); q253 measures the
    * verdict-agreement curve over L exactly as q251 measures it over
    * occupancy. */
  def lofOutliersLshMulti(
      corpus: DataFrame,
      k: Int = 5,
      targetOccupancy: Int = 32,
      nTables: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      dim: Int = 64): DataFrame = {
    require(k >= 1 && nTables >= 1, s"need k/nTables >= 1, got $k/$nTables")
    val bits = axisSignBitsFor(corpus.count(), targetOccupancy, dim)
    val stride = math.max(1, dim / nTables)
    val v = (0 until nTables).foldLeft(lofVectors(corpus, idCol, vecCol)) {
      (df, t) =>
        df.withColumn(s"bk$t", axisSignSignatureAt(col("v"), bits, t * stride, dim))
    }
    val pairs = (0 until nTables).map { t =>
      lofPairDistances(
        v.select(col("id").as("p"), col("v").as("a_v"), col("n2").as("a_n2"),
          col(s"bk$t")),
        v.select(col("id").as("o"), col("v").as("b_v"), col("n2").as("b_n2"),
          col(s"bk$t").as(s"bk${t}_o")),
        col(s"bk$t") === col(s"bk${t}_o") && col("p") =!= col("o"))
    }.reduce(_ unionByName _)
      // a pair found by several tables carries the identical dm — the
      // distinct is exact, not a tie-break
      .dropDuplicates("p", "o")
    lofLattice(pairs, k)
  }

  /** QUALITY curve for the LOF truncation trade (the q191 recipe applied
    * to outlier detection): top-K outlier-verdict overlap between the
    * EXACT all-pairs LOF ([[lofOutliers]], the quarantined diagnostic)
    * and the production LSH-bucketed LOF ([[lofOutliersLsh]]). q247's
    * scale story is measured (sub-linear through the 100× decade); this
    * measures what the bucket-border truncation costs in VERDICTS — the
    * density-contrast argument ("borders distort contrast far less than
    * absolute density") as a number instead of a claim, exactly the way
    * q191 turns IVF nProbe into measured recall and q148/q161 turn PQ
    * bits into measured recall.
    *
    * The OCCUPANCY SWEEP is the curve: `targetOccupancy` is the quality
    * dial exactly as nProbe is IVF's — bigger buckets see more true
    * neighbors and converge on the exact verdicts at a higher (still
    * n·occupancy, still sub-quadratic) pair cost. For each (occupancy,
    * K): both arms rank non-degenerate points by (lof_ppm DESC, vec_id)
    * — the deterministic argmax tie-break — take the top K, and report
    * |exact∩lsh| with round-half-up ppm overlap. All integer: the two
    * lof_ppm columns are already fixed-point lattices, the overlap is a
    * count, the ppm a `div`. Measured on the gate corpus (sf0.01, n=500,
    * K=50): 120000 ppm at occupancy 32 → the default-occupancy verdicts
    * are NOT exact-LOF verdicts; the dial has to climb toward bucket
    * sizes ≫ k before top-outlier agreement follows — which is the
    * honest, previously-unmeasured answer to "what does bucket
    * truncation cost in verdicts".
    *
    * Scale shape: contains the EXACT arm, so this is a diagnostic run at
    * evaluation SF by construction (like every recall curve here — Bench
    * excludes it beyond 10x with its q238/q244 siblings); the top-K
    * extraction itself is TakeOrdered (no global window), and every LOF
    * frame is eagerly checkpointed so each arm computes once across the
    * K sweep, not once per K. */
  def lofTruncationAgreement(
      corpus: DataFrame,
      k: Int = 5,
      topKs: Seq[Int] = Seq(10, 50),
      occupancies: Seq[Int] = Seq(32, 128, 512),
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      dim: Int = 64): DataFrame = {
    require(occupancies.nonEmpty && occupancies.forall(_ >= 1),
      s"need occupancies >= 1, got $occupancies")
    lofAgreementSweep(corpus, k, topKs, "occupancy", occupancies,
      idCol, vecCol)(occ => lofOutliersLsh(corpus, k, occ, idCol, vecCol, dim))
  }

  /** Shared verdict-overlap sweep body for the LOF quality curves
    * (q251's occupancy dial, q253's table-count dial): exact arm computed
    * ONCE, one approx arm per dial value via `arm`, per-(dial, topK)
    * top-K verdict overlap with the deterministic (lof desc, id) rank and
    * the round-half-up ppm — one source of truth for the tie-break, null
    * filter, checkpoint discipline, and readout both curves must share
    * for their numbers to be comparable. */
  private def lofAgreementSweep(
      corpus: DataFrame, k: Int, topKs: Seq[Int], dialCol: String,
      dials: Seq[Int], idCol: String, vecCol: String)(
      arm: Int => DataFrame): DataFrame = {
    require(topKs.nonEmpty && topKs.forall(_ >= 1), s"need topKs >= 1, got $topKs")
    val exact = lofOutliers(corpus, k, idCol, vecCol)
      .filter(col("lof_ppm").isNotNull).localCheckpoint(true)
    def topIds(a: DataFrame, kk: Int) =
      a.orderBy(col("lof_ppm").desc, col("vec_id")).limit(kk)
    dials.sorted.flatMap { d =>
      val approx = arm(d).filter(col("lof_ppm").isNotNull).localCheckpoint(true)
      topKs.sorted.map { kk =>
        topIds(exact, kk).select("vec_id")
          .join(topIds(approx, kk).select(col("vec_id").as("vb")),
            col("vec_id") === col("vb"))
          .agg(count(lit(1)).as("n_overlap"))
          .select(lit(d.toLong).as(dialCol),
            lit(kk.toLong).as("top_k"), col("n_overlap"),
            expr(s"(n_overlap * 2000000 + $kk) div (2 * $kk)").as("overlap_ppm"))
      }
    }.reduce(_ unionByName _).orderBy(dialCol, "top_k")
  }

  /** [[lofTruncationAgreement]]'s sibling over the OTHER dial: top-K
    * outlier-verdict overlap between exact LOF and
    * [[lofOutliersLshMulti]] as the table count L sweeps — does adding
    * hash tables buy back the verdicts single-table truncation loses,
    * and at what L does it saturate? Same integer plumbing (ranks,
    * counts, div), same diagnostic status (contains the exact arm; Bench
    * quarantines it beyond 10× with q238/q244/q251). */
  def lofMultiTableAgreement(
      corpus: DataFrame,
      k: Int = 5,
      topKs: Seq[Int] = Seq(10, 50),
      tableCounts: Seq[Int] = Seq(1, 2, 4),
      targetOccupancy: Int = 32,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      dim: Int = 64): DataFrame = {
    require(tableCounts.nonEmpty && tableCounts.forall(_ >= 1),
      s"need tableCounts >= 1, got $tableCounts")
    lofAgreementSweep(corpus, k, topKs, "n_tables", tableCounts,
      idCol, vecCol)(t =>
      lofOutliersLshMulti(corpus, k, targetOccupancy, t, idCol, vecCol, dim))
  }

  /** PLANTED-STRUCTURE fixture transform for the LOF quality curves
    * (q273/q274): the raw md5-synthetic embeddings are near-uniform on
    * the hypercube — the documented sign-bucket WORST case for axis-sign
    * LSH (every bucket bit is a coin flip), so q251/q253's 12–34% verdict
    * overlap measures the fixture as much as the method. This transform
    * derives a CLUSTERABLE corpus deterministically from the same table:
    * cluster c = vec_id % 8 imprints its 3-bit SIGN PATTERN on the
    * leading `blockDims` dimensions (dim j carries sign ±1 from bit
    * (j mod 3) of c, magnitude 4.0 ± 0.125·noise — so axis-sign bits
    * read REAL cluster structure, the regime sign-LSH is built for),
    * and the remaining dimensions shrink to ±0.125 noise. Within-cluster
    * distances stay ≲2 while cross-cluster sign flips contribute ≥8 per
    * differing dimension — well-separated clusters of ~n/8 points with
    * intrinsic dimension ≈ blockDims. Exact cross-engine float math:
    * ×0.125 is an exponent shift (exact on any IEEE engine), 4.0+x one
    * correctly-rounded add, ±1·y exact, and the FLOAT narrowing
    * correctly rounded — the oracle's list_transform produces identical
    * bits. */
  def plantedClusters(
      corpus: DataFrame,
      blockDims: Int = 8,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(blockDims >= 1)
    val c = col(idCol) % 8
    corpus.select(col(idCol),
      transform(col(vecCol), (x, i) => {
        val m = i.cast("long") % 3
        val bit = when(m === 0, c.bitwiseAND(lit(1L)))
          .when(m === 1, c.bitwiseAND(lit(2L)))
          .otherwise(c.bitwiseAND(lit(4L)))
        val s = when(bit > 0, lit(1.0)).otherwise(lit(-1.0))
        val noise = x.cast("double") * lit(0.125)
        when(i < blockDims, s * (lit(4.0) + noise))
          .otherwise(noise).cast("float")
      }).as(vecCol))
  }

  /** CORPUS-SCALE HARD-NEGATIVE MINING — every anchor's `k` nearest
    * DIFFERENT-label vectors. [[graft.analysis.Sampling.hardNegatives]]
    * (q167) is the anchor-SET form (small anchor frame broadcast against
    * the corpus, cosine-scored) whose own contract says "at corpus×corpus
    * scale, route candidate generation through the LSH shortlist" — this
    * pair is that deferred path: the exact all-pairs arm here is the
    * verdict source of truth and the gate (quadratic by construction,
    * quarantined beside q238), and [[hardNegativesLsh]] is the production
    * feed. Distances are the LOF family's integer micro-distance lattice
    * (⌊√(|a|²+|b|²−2a·b)·10⁶+0.5⌋, engine-exact), ranks the deterministic
    * (dm, neg_id) row_number. Output: vec_id, neg_rank, neg_id, dm. */
  def hardNegatives(
      corpus: DataFrame,
      k: Int = 3,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val v = labeledVectors(corpus, idCol, vecCol, labelCol)
    val pairs = lofPairDistances(
      v.select(col("id").as("p"), col("v").as("a_v"), col("n2").as("a_n2"),
        col("lbl").as("la")),
      v.select(col("id").as("o"), col("v").as("b_v"), col("n2").as("b_n2"),
        col("lbl").as("lb")),
      col("p") =!= col("o") && col("la") =!= col("lb"))
    negRank(pairs, k)
  }

  /** [[hardNegatives]]' production twin: the candidate feed comes from
    * `nTables` rotated-window adaptive-width sign-bucket joins (the
    * q247/q254 machinery) instead of all pairs — per-anchor candidates
    * bounded by table count × occupancy, sub-quadratic end to end. An
    * anchor whose buckets contain no different-label vector emits no rows
    * (the recall trade the table-count dial buys back, exactly as q254
    * measures for LOF). */
  def hardNegativesLsh(
      corpus: DataFrame,
      k: Int = 3,
      targetOccupancy: Int = 32,
      nTables: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      labelCol: String = "label",
      dim: Int = 64): DataFrame = {
    require(k >= 1 && nTables >= 1, s"need k/nTables >= 1, got $k/$nTables")
    val bits = axisSignBitsFor(corpus.count(), targetOccupancy, dim)
    val stride = math.max(1, dim / nTables)
    val v = (0 until nTables).foldLeft(
        labeledVectors(corpus, idCol, vecCol, labelCol)) { (df, t) =>
      df.withColumn(s"bk$t", axisSignSignatureAt(col("v"), bits, t * stride, dim))
    }
    val pairs = (0 until nTables).map { t =>
      lofPairDistances(
        v.select(col("id").as("p"), col("v").as("a_v"), col("n2").as("a_n2"),
          col("lbl").as("la"), col(s"bk$t")),
        v.select(col("id").as("o"), col("v").as("b_v"), col("n2").as("b_n2"),
          col("lbl").as("lb"), col(s"bk$t").as(s"bk${t}_o")),
        col(s"bk$t") === col(s"bk${t}_o") && col("p") =!= col("o") &&
          col("la") =!= col("lb"))
    }.reduce(_ unionByName _)
      // a pair found by several tables carries the identical dm
      .dropDuplicates("p", "o")
    negRank(pairs, k)
  }

  /** QUALITY curve for the hard-negative production feed (q253's shape
    * applied to mining): per table count, how many of the EXACT arm's
    * (anchor, negative) picks does [[hardNegativesLsh]] recover — the
    * recall number that tells a training-data job what the bucket
    * truncation costs in actual mined pairs, swept over the table-count
    * dial that buys it back. Contains the exact arm: quarantined
    * diagnostic beside q251/q253/q273/q274.
    * Output: n_tables, n_exact, n_overlap, recall_ppm. */
  def hardNegativeRecall(
      corpus: DataFrame,
      k: Int = 3,
      tableCounts: Seq[Int] = Seq(1, 2, 4),
      targetOccupancy: Int = 32,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      labelCol: String = "label",
      dim: Int = 64): DataFrame = {
    require(tableCounts.nonEmpty && tableCounts.forall(_ >= 1),
      s"need tableCounts >= 1, got $tableCounts")
    val exact = hardNegatives(corpus, k, idCol, vecCol, labelCol)
      .select(col("vec_id"), col("neg_id")).localCheckpoint(true)
    val nExact = exact.count()
    // an empty exact arm (single-label corpus, no cross-label pairs) would
    // turn recall_ppm into integer division by zero — silent NULL rows in
    // Spark's div; fail loudly instead, the curve is meaningless at n=0
    require(nExact > 0, "hardNegativeRecall: exact arm mined no " +
      "(anchor, negative) pairs — recall against an empty reference is " +
      "undefined (does the corpus have at least two labels?)")
    tableCounts.sorted.map { t =>
      val lsh = hardNegativesLsh(corpus, k, targetOccupancy, t,
          idCol, vecCol, labelCol, dim)
        .select(col("vec_id").as("va"), col("neg_id").as("na"))
      exact.join(lsh, col("vec_id") === col("va") && col("neg_id") === col("na"))
        .agg(count(lit(1)).as("n_overlap"))
        .select(lit(t.toLong).as("n_tables"), lit(nExact).as("n_exact"),
          col("n_overlap"),
          expr(s"(n_overlap * 2000000 + $nExact) div (2 * $nExact)")
            .as("recall_ppm"))
    }.reduce(_ unionByName _).orderBy("n_tables")
  }

  /** Shared tail of the hard-negative miners: deterministic per-anchor
    * (dm, neg_id) rank, top k. */
  private def negRank(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("p").orderBy(col("dm"), col("o"))
    pairs
      .withColumn("neg_rank", row_number().over(w))
      .filter(col("neg_rank") <= k)
      .select(col("p").as("vec_id"), col("neg_rank").cast("long").as("neg_rank"),
        col("o").as("neg_id"), col("dm"))
      .orderBy("vec_id", "neg_rank")
  }

  /** [[lofVectors]] plus the label column the negative miners filter on. */
  private def labeledVectors(
      corpus: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame =
    corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"),
        col(labelCol).cast("long").as("lbl"))
      .withColumn("n2",
        graft.functions.VectorOps.dotProduct(col("v"), col("v")))

  /** Shared LOF head: ids + vectors + squared norms projected once. */
  private def lofVectors(
      corpus: DataFrame, idCol: String, vecCol: String): DataFrame =
    corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .withColumn("n2",
        graft.functions.VectorOps.dotProduct(col("v"), col("v")))

  /** Candidate-pair micro-distances for the LOF lattice.
    * |x-y|² = |x|² + |y|² - 2x·y with the dots on the NATIVE codegen'd
    * DotProduct kernel — a declarative (x-y)² HOF fold evaluated
    * interpreted per pair measured 30.9 s on the sf0.1 gate (the suite's
    * slowest query); this form runs the same 36M pairs in a few seconds.
    * Norms are projected ONCE per vector before the join. greatest(·, 0)
    * guards the -1e-16 epsilon of identical vectors (sqrt(NaN) would
    * ANSI-throw at the cast); the oracle mirrors the guard verbatim. */
  private def lofPairDistances(
      left: DataFrame, right: DataFrame, cond: Column): DataFrame =
    left.join(right, cond)
      .select(col("p"), col("o"),
        floor(sqrt(greatest(
            col("a_n2") + col("b_n2") - lit(2.0) *
              graft.functions.VectorOps.dotProduct(col("a_v"), col("b_v")),
            lit(0.0)))
          * lit(1e6) + lit(0.5)).cast("long").as("dm"))

  /** The feed-agnostic LOF tail over (p, o, dm) candidate pairs: kNN ranks,
    * reach-distances, lrd, and the LOF ratio — all integer arithmetic.
    * The `sl·10⁶` product runs in DECIMAL(38,0) (HUGEINT in the oracle):
    * lrd reaches k·10¹² in exact-dup-adjacent neighborhoods, so the BIGINT
    * product could exceed Long.MaxValue and ANSI-throw; the FINAL ratio is
    * bounded by max(lrd)·10⁶ = k·10¹⁸ < Long.MaxValue, so only the
    * intermediate needs widening (round-10 advice fix). */
  private def lofLattice(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("p").orderBy(col("dm"), col("o"))
    val knn = pairs.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k).select("p", "o", "dm").persist()
    val kdist = knn.groupBy("p").agg(max("dm").as("kdist"))
    val reach = knn
      .join(kdist.withColumnRenamed("p", "o_"), col("o") === col("o_"))
      .select(col("p"), col("o"), greatest(col("kdist"), col("dm")).as("r"))
    val lrd = reach.groupBy("p").agg(sum("r").as("sp"))
      .select(col("p"),
        when(col("sp") === 0, lit(null).cast("long"))
          .otherwise(expr(s"${k.toLong * 1000000000000L}L div sp")).as("l"))
    knn
      .join(lrd.select(col("p").as("o_"), col("l").as("lo")), col("o") === col("o_"))
      .groupBy("p").agg(sum("lo").as("sl"))
      .join(lrd, "p")
      .select(col("p").as("vec_id"),
        when(col("l").isNull || col("l") === 0, lit(null).cast("long"))
          .otherwise(expr(
            s"CAST((CAST(sl AS DECIMAL(38,0)) * 1000000) div ($k * l) AS BIGINT)"))
          .as("lof_ppm"))
      .orderBy("vec_id")
  }

  /** Deterministic ±1 sign for projection plane `p`, dimension `j` —
    * md5-derived so ANY engine regenerates the identical matrix from the
    * (p, j) coordinates alone; no stored weights, no RNG state. */
  private[analysis] def rpSign(p: Int, j: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"rp|$p|$j".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(15)
    if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1.0 else -1.0
  }

  /** Johnson–Lindenstrauss RANDOM PROJECTION with a deterministic ±1
    * (Achlioptas) matrix: embeddings drop from `dim` to `outDim`
    * dimensions with pairwise distances preserved within the JL bound —
    * the standard pre-step that makes every downstream ANN / dedup /
    * clustering pass `dim/outDim`× cheaper in compute, shuffle bytes, and
    * sketch width. The matrix entry is a pure function of its (plane,
    * dimension) coordinates (md5 parity), so the projection is
    * reproducible in any engine with no weight artifact to version.
    *
    * Scale shape: a single codegen'd projection, no shuffle, pipelined
    * into the parquet scan. Each output is one
    * [[graft.functions.VectorOps.dotProduct]] fold against its plane's ±1
    * row as an array literal, which generated code references instead of
    * inlining (outDim × dim inlined terms overflow Janino's per-method
    * limit, and Spark then runs the plan interpreted). The fold sums in
    * ascending dimension order, so values are the left-to-right sum of the
    * ±terms bit for bit; a vector whose length is not `dim` projects to null.
    * Output (exploded for oracle comparability): idCol, p, value (6dp). */
  def randomProjection(
      corpus: DataFrame,
      outDim: Int = 16,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(outDim >= 1 && dim >= 1, s"bad dims $outDim/$dim")
    val inv = 1.0 / math.sqrt(outDim.toDouble)
    val comps = (0 until outDim).map { p =>
      val signs = typedLit(Array.tabulate(dim)(j => rpSign(p, j).toFloat))
      struct(lit(p).as("p"),
        (graft.functions.VectorOps.dotProduct(col(vecCol), signs) * inv).as("value"))
    }
    corpus
      .select(col(idCol), explode(array(comps: _*)).as("c"))
      .select(col(idCol), col("c.p").as("p"),
        round(col("c.value"), 6).as("value"))
  }

  /** Exact embedding-cosine near-duplicate pairs by full self-comparison —
    * the correctness baseline for [[embeddingNearDupPairsWith]]. O(n²/2) scored
    * pairs through one fused cosine per pair; fine to ~10⁵ vectors, after
    * which the LSH/IVF bucketed variants are the only viable shape. */
  def embeddingNearDupPairsExact(
      corpus: DataFrame,
      minCosine: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("vec"))
    scorePairs(c.as("x").join(c.as("y"), col("x.id") < col("y.id")), minCosine)
  }

  /** Shared near-dup tail: score x/y vec pairs, threshold, project. */
  private def scorePairs(joined: DataFrame, minCosine: Double): DataFrame =
    joined
      .withColumn("cosine",
        graft.functions.VectorOps.cosineSim(col("x.vec"), col("y.vec")))
      .filter(col("cosine") >= minCosine)
      .select(col("x.id").as("doc_a"), col("y.id").as("doc_b"),
        round(col("cosine"), 4).as("cosine"))

  /** Embedding-cosine near-duplicate pairs: corpus×corpus through
    * signature buckets (no broadcast side — both sides shuffle on the
    * bucket key). Exactly the MinHash-LSH shape with cosine instead of
    * Jaccard. With [[axisSignSignature]] for engine-portable buckets — the
    * configuration the oracle gate runs — the 100 TB bucketed path has a
    * full oracle. */
  def embeddingNearDupPairsWith(
      corpus: DataFrame,
      signatureOf: Column => Column,
      minCosine: Double = 0.95,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(
      col(idCol).as("id"), col(vecCol).as("vec"),
      signatureOf(col(vecCol)).as("bucket"))
    scorePairs(
      c.as("x").join(c.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.id") < col("y.id")),
      minCosine)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic deduplication
    * that bounds the quadratic cosine search by clustering first — pairs are
    * scored ONLY inside a k-means cell, never across the whole corpus. This
    * is the third member of the near-dup family: [[embeddingNearDupPairsExact]]
    * is the all-pairs oracle baseline, [[embeddingNearDupPairsWith]] buckets
    * by a data-oblivious LSH signature, and this one buckets by a data-ADAPTIVE
    * quantizer (the same deterministic-Lloyd rebuild the IVF/PQ paths use, so
    * the cells are engine-reproducible and the whole operator oracle-gated).
    *
    * Survivor policy: a document is dropped iff some SMALLER-id member of its
    * own cell is within `minCosine` — the pairwise min-id rule, same
    * convention as exact dedup's min-id survivor, applied to the similarity
    * graph directly (not its transitive closure; chains of dups that span
    * cells or hop through dropped docs keep their local winner, which is the
    * paper's per-cluster greedy keep-one behavior).
    *
    * Scale shape: the corpus shuffles ONCE on the cell id; per-cell pair
    * volume is Σ c·(c−1)/2 bounded by the quantizer granularity (at
    * production scale k ≈ n/⟨cell⟩ keeps cells O(10³) regardless of corpus
    * size — the paper runs k = 50k over 5B embeddings), and AQE's skew
    * splitting handles lopsided cells. Text never moves: only
    * 〈id, vec, cell〉 tuples shuffle.
    *
    * Output (one row per input vector): idCol, cluster, dup_of (smallest
    * qualifying in-cell neighbor id, null for survivors), keep. */
  def semDedup(
      corpus: DataFrame,
      k: Int = 4,
      iterations: Int = 2,
      minCosine: Double = 0.4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val asg = Clustering.lloydKMeans(corpus, k, iterations, idCol, vecCol)
      .select(col(idCol).as("id"), col("cluster"))
    semDedupAssigned(corpus, asg, corpus, asg, minCosine, idCol, vecCol)
  }

  /** Shared SemDeDup tail: verdicts for `target` docs against candidate
    * pairs drawn from `pool` (both pre-assigned to cells) — dropped iff a
    * smaller-id pool member of the same cell is within `minCosine`.
    * [[semDedup]] passes pool = target = the whole corpus;
    * [[semDedupIncrement]] narrows the target to the new batch. */
  private def semDedupAssigned(
      pool: DataFrame, poolAsg: DataFrame,
      target: DataFrame, targetAsg: DataFrame,
      minCosine: Double, idCol: String, vecCol: String): DataFrame = {
    def withVec(df: DataFrame, asg: DataFrame) =
      df.select(col(idCol).as("id"), col(vecCol).as("vec")).join(asg, "id")
    val x = withVec(pool, poolAsg)
    val y = withVec(target, targetAsg)
    val dupOf = x.as("x").join(y.as("y"),
        col("x.cluster") === col("y.cluster") && col("x.id") < col("y.id"))
      .filter(graft.functions.VectorOps.cosineSim(col("x.vec"), col("y.vec"))
        >= minCosine)
      .groupBy(col("y.id").as("id"))
      .agg(min(col("x.id")).as("dup_of"))
    targetAsg.join(dupOf, Seq("id"), "left")
      .select(col("id").as(idCol), col("cluster"), col("dup_of"),
        col("dup_of").isNull.as("keep"))
  }

  /** Incremental SemDeDup under a FROZEN quantizer — the daily-ingest shape
    * of [[semDedup]]: the k-means cells are fit ONCE on the reference
    * corpus and new batches assign to them without refitting. Freezing is
    * what makes the operator incremental AT ALL: corpus verdicts are
    * provably stable under ingestion (a batch id is larger than every
    * corpus id, so it can never become anyone's min-id `dup_of`), so a
    * production pipeline stores them and pays only for the batch — pair
    * candidates are 〈pool ∪ batch〉 × batch within a cell, cost ∝ the cells
    * the batch actually touches. Refitting per batch would instead reshuffle
    * every cell boundary and invalidate all stored verdicts.
    *
    * The law this must satisfy (spec + q171 oracle): increment(corpus,
    * batch) ≡ the whole-union rebuild under the same frozen centroids. */
  def semDedupIncrement(
      corpus: DataFrame,
      batch: DataFrame,
      k: Int = 4,
      iterations: Int = 2,
      minCosine: Double = 0.4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    // Enforce the stability precondition the whole operator rests on:
    // every batch id strictly larger than every corpus id. A batch doc
    // with a smaller id would become some corpus doc's min-id `dup_of`,
    // silently invalidating the stored verdicts — fail loudly instead.
    val idsOk = corpus.agg(max(col(idCol)).as("mx"))
      .crossJoin(batch.agg(min(col(idCol)).as("mn")))
      .select(coalesce(col("mn") > col("mx"), lit(true)).as("ok"))
      .collect().head.getBoolean(0)
    require(idsOk,
      s"semDedupIncrement precondition violated: min(batch.$idCol) must be " +
        s"> max(corpus.$idCol) — the min-id survivor rule only keeps stored " +
        "corpus verdicts stable when batch ids are strictly larger")
    val centroids = Clustering.lloydCentroids(corpus, k, iterations, idCol, vecCol)
    def assign(df: DataFrame) =
      Clustering.assignedOf(Clustering.ptsOf(df, idCol, vecCol), centroids)
        .select(col("id"), col("cluster"))
    val asgC = assign(corpus).localCheckpoint(true)
    val asgB = assign(batch).localCheckpoint(true)
    // the stored artifact: corpus verdicts, computed once, never touched
    val prior = semDedupAssigned(corpus, asgC, corpus, asgC, minCosine, idCol, vecCol)
    val pool = corpus.unionByName(batch)
    val poolAsg = asgC.unionByName(asgB)
    val fresh = semDedupAssigned(pool, poolAsg, batch, asgB, minCosine, idCol, vecCol)
    prior.unionByName(fresh)
  }

  /** Density-based clustering over embeddings — the DBSCAN shape, composed
    * from the gated neighbor-pair generator and connected components:
    * CORE points have ≥ `minPts` neighbors within the cosine ball
    * (exclusive of self), clusters are connected components of the
    * core–core pair graph, BORDER points attach to the smallest cluster id
    * among their core neighbors, everything else is NOISE. The standard way
    * to organize a near-dup-rich corpus into groups denser than pairwise
    * thresholds alone: chains of borderline pairs don't chain clusters
    * unless the interior is dense.
    *
    * Scale shape: pairs come from the LSH-bucketed generator (sub-quadratic
    * — the same q39 path), degrees/roles are one grouped count, the CC runs
    * on the core subgraph only (pointer-jumping, [[Dedup.dedupClusters]]),
    * and border attachment is one join from the symmetric pair list.
    * Output: idCol, role (core/border/noise), cluster_id (null for noise). */
  def densityClusters(
      corpus: DataFrame,
      signatureOf: Column => Column,
      minCosine: Double,
      minPts: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val pairs = embeddingNearDupPairsWith(corpus, signatureOf, minCosine, idCol, vecCol)
      .select("doc_a", "doc_b")
    val sym = pairs.select(col("doc_a").as("id"), col("doc_b").as("nb"))
      .union(pairs.select(col("doc_b").as("id"), col("doc_a").as("nb")))
    val core = sym.groupBy("id").agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= minPts).select("id")
    val corePairs = pairs
      .join(core.select(col("id").as("doc_a")), Seq("doc_a"), "left_semi")
      .join(core.select(col("id").as("doc_b")), Seq("doc_b"), "left_semi")
    val clusters = graft.analysis.Dedup
      .dedupClusters(corePairs, core.select(col("id").as("doc_id")),
        // corePairs is semi-joined against core on BOTH endpoints above
        pairsWithinDocs = true)
      .select(col("doc_id").as("id"), col("cluster_id"))
    // border: not core, but adjacent to ≥1 core point — inherit the
    // smallest core neighbor's cluster (deterministic attachment)
    val border = sym
      .join(clusters.withColumnRenamed("id", "nb"), "nb")
      .join(core, Seq("id"), "left_anti")
      .groupBy("id").agg(min("cluster_id").as("cluster_id"))
    val assigned = clusters.withColumn("role", lit("core"))
      .unionByName(border.withColumn("role", lit("border")))
    corpus.select(col(idCol).as("id"))
      .join(assigned, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("role"), lit("noise")).as("role"),
        col("cluster_id"))
  }

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein, SIGIR
    * 1998): greedily pick `take` results from the top-`window` relevance
    * candidates, each step maximizing
    * λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s) — the standard
    * diversity-aware head re-rank RAG retrieval runs after ANN.
    *
    * Scale shape: relevance + candidate cut is [[knnBruteForce]] (broadcast
    * query, fused codegen cosine, distributed); the pairwise candidate sims
    * are computed distributed over the window-sized frame. Only then do the
    * window rows (≤ `window` rels + C(window,2) sims — re-rank-head sized
    * by contract, NOT corpus-sized) come to the driver for the inherently
    * sequential greedy loop, mirroring how [[graft.analysis.Clustering]]
    * holds k centroids. Determinism for the oracle: rel and sim are rounded
    * to 4dp BEFORE the greedy (identical doubles cross-engine), ties break
    * on ascending id, and the penalty term uses (1 − λ) computed in DOUBLE
    * on both sides.
    * Output: mmr_rank, vec_id, relevance, mmr_score (round 6). */
  def mmrRerank(
      corpus: DataFrame,
      query: DataFrame,
      window: Int = 20,
      take: Int = 5,
      lambda: Double = 0.7,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(take >= 1 && window >= take, s"need 1 <= take <= window, got $take/$window")
    require(lambda >= 0.0 && lambda <= 1.0, s"need lambda in [0,1], got $lambda")
    val spark = corpus.sparkSession
    val cands = knnBruteForce(corpus, query, k = window, idCol, vecCol)
      .select(col("neighbor_id").cast("long").as("id"), col("cosine").as("rel"))
    val vecs = corpus
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .join(broadcast(cands.select("id")), "id")
    val sims = vecs.as("a")
      .join(broadcast(vecs).as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(graft.functions.VectorOps.cosineSim(col("a.v"), col("b.v")), 4).as("sim"))
    val rel = cands.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sim = sims.collect()
      .flatMap { r =>
        val (a, b, s) = (r.getLong(0), r.getLong(1), r.getDouble(2))
        Seq((a, b) -> s, (b, a) -> s)
      }.toMap
    var selected = Vector.empty[(Long, Double, Double)] // (id, rel, score)
    var remaining = rel.keySet
    for (_ <- 1 to take) if (remaining.nonEmpty) {
      val (bestScore, bestId) = remaining.toSeq.map { c =>
        val pen = if (selected.isEmpty) 0.0 else selected.map(s => sim((c, s._1))).max
        (lambda * rel(c) - (1 - lambda) * pen, c)
      }.sortBy { case (score, id) => (-score, id) }.head
      selected :+= ((bestId, rel(bestId), bestScore))
      remaining -= bestId
    }
    import spark.implicits._
    selected.zipWithIndex
      .map { case ((id, r, s), i) => (i + 1, id, r, s) }
      .toDF("mmr_rank", "vec_id", "relevance", "mmr_score")
      .select(col("mmr_rank"), col("vec_id"), col("relevance"),
        round(col("mmr_score"), 6).as("mmr_score"))
  }

  /** Exact squared-L2 top-k of a single query against the corpus — the
    * ground-truth side of ANN recall evaluation ([[knnPqAdc]]'s honest
    * yardstick). The query vector is inlined as a literal array so the
    * distance is one fused codegen'd projection (no join at all), feeding
    * TakeOrderedAndProject. Output: rank, neighbor_id, d2 (round 6). */
  def knnExactL2(
      corpus: DataFrame,
      query: DataFrame,
      topK: Int = 10,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val qRow = query
      .select(transform(col(vecCol), x => x.cast(DoubleType)).as("qv"),
        col(idCol).cast("long").as("qid"))
      .head
    val qLit = array(qRow.getSeq[Double](0).map(lit): _*)
    val qid = qRow.getLong(1)
    val top = corpus
      .select(col(idCol).cast("long").as("neighbor_id"),
        aggregate(
          zip_with(transform(col(vecCol), x => x.cast(DoubleType)), qLit,
            (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, d) => acc + d).as("d2"))
      .filter(col("neighbor_id") =!= qid)
      .orderBy(col("d2"), col("neighbor_id"))
      .limit(topK)
    top
      .withColumn("rank", row_number().over(Window.orderBy(col("d2"), col("neighbor_id"))))
      .select(col("rank"), col("neighbor_id"), round(col("d2"), 6).as("d2"))
  }

  /** Product-quantization codebooks (Jégou, Douze & Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): the space is
    * split into `m` contiguous subspaces and a deterministic Lloyd codebook
    * of `codes` centroids is fit per subspace
    * ([[graft.analysis.Clustering.lloydCentroids]]: first-k-by-id init,
    * DECIMAL means, pinned tie-breaks — so an external SQL engine rebuilds
    * every codebook bit-for-bit). Driver state is m·codes·(dim/m) doubles —
    * the codebook, by design small enough to broadcast. */
  def pqCodebooks(
      corpus: DataFrame,
      m: Int = 4,
      codes: Int = 8,
      iterations: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): Array[Array[Array[Double]]] = {
    val dim = corpus.select(size(col(vecCol)).as("d")).head.getAs[Int]("d")
    require(dim % m == 0, s"dim $dim does not split into $m equal subspaces")
    val sub = dim / m
    val dec = org.apache.spark.sql.types.DecimalType(38, 12)
    // FUSED fit: all m Lloyd runs share one corpus scan per round (m
    // independent fits would scan m×). Bit-identical to per-subspace
    // lloydCentroids: same first-k-by-id init, same argmin/tie-break
    // expression per subspace, same DECIMAL means — proven by the q142/
    // q148 oracles, which rebuild the PER-SUBSPACE formulation in SQL.
    val pts = corpus
      .select(col(idCol).as("id"),
        transform(col(vecCol), x => x.cast(DoubleType)).as("v"))
      .persist()
    try {
      var books: Array[Array[Array[Double]]] = {
        val seeds = pts.orderBy("id").limit(codes).collect()
          .map(_.getSeq[Double](1).toArray)
        (0 until m).toArray.map(j => seeds.map(_.slice(j * sub, j * sub + sub)))
      }
      for (_ <- 1 to iterations) {
        val perSub = (0 until m).map { j =>
          val dists = books(j).zipWithIndex.map { case (c, ci) =>
            struct(
              aggregate(
                zip_with(slice(col("v"), j * sub + 1, sub), array(c.map(lit): _*),
                  (x, y) => (x - y) * (x - y)),
                lit(0.0), (acc, d) => acc + d).as("d2"),
              lit(ci).as("cluster"))
          }
          struct(lit(j).as("j"),
            element_at(array_sort(array(dists: _*)), 1).getField("cluster").as("cluster"),
            slice(col("v"), j * sub + 1, sub).as("sv"))
        }
        val stats = pts
          .select(explode(array(perSub: _*)).as("s"))
          .select(col("s.j").as("j"), col("s.cluster").as("cluster"),
            posexplode(col("s.sv")).as(Seq("dim", "x")))
          .groupBy("j", "cluster", "dim")
          .agg(sum(col("x").cast(dec)).as("s"), count(lit(1)).as("n"))
          .collect()
        val next = books.map(_.map(_.clone()))
        stats.foreach { r =>
          next(r.getAs[Int]("j"))(r.getAs[Int]("cluster"))(r.getAs[Int]("dim")) =
            r.getAs[java.math.BigDecimal]("s").doubleValue() / r.getAs[Long]("n")
        }
        books = next // clusters with no members keep their previous centroid
      }
      books
    } finally { pts.unpersist(); () }
  }

  /** PQ-compressed top-k via asymmetric distance computation (ADC): every
    * corpus vector is encoded as m byte-sized codes (argmin per-subspace
    * centroid, ties to the lower code — a pure codegen'd projection with
    * centroid literals, no join); the query stays UNquantized and its
    * m×codes distance table is computed once on the driver, so scoring a
    * vector is m table lookups + (m−1) adds instead of a dim-length scan.
    * This is the memory-bound regime's ANN: at 100 TB of float32
    * embeddings the PQ codes are dim·4/m bytes-per-vector smaller (64× here),
    * which is the difference between scanning storage and scanning RAM.
    *
    * Scale shape: codebook fit is [[pqCodebooks]] (bounded driver state);
    * encode + ADC is one projection pass over the corpus feeding
    * TakeOrderedAndProject (the q06 rule — no global window, no full sort);
    * the rank window runs over the ≤ topK collected head only.
    * Output: rank, neighbor_id, adc_d2 (approx squared L2, round 6). */
  def knnPqAdc(
      corpus: DataFrame,
      query: DataFrame,
      m: Int = 4,
      codes: Int = 8,
      iterations: Int = 2,
      topK: Int = 10,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val books = pqCodebooks(corpus, m, codes, iterations, idCol, vecCol)
    val qRow = query
      .select(transform(col(vecCol), x => x.cast(DoubleType)).as("qv"),
        col(idCol).cast("long").as("qid"))
      .head
    val qv = qRow.getSeq[Double](0).toArray
    val qid = qRow.getLong(1)
    val scored = adcScored(
      corpus
        .select(col(idCol).cast("long").as("neighbor_id"),
          transform(col(vecCol), x => x.cast(DoubleType)).as("v"))
        .filter(col("neighbor_id") =!= qid),
      books, qv)
      .select("neighbor_id", "adc_d2")
      .orderBy(col("adc_d2"), col("neighbor_id"))
      .limit(topK)
    scored
      .withColumn("rank",
        row_number().over(Window.orderBy(col("adc_d2"), col("neighbor_id"))))
      .select(col("rank"), col("neighbor_id"), round(col("adc_d2"), 6).as("adc_d2"))
  }

  /** Shared ADC scorer: given candidate rows `(neighbor_id, v)` (v already
    * double-cast), encode each row per subspace (codegen'd argmin against
    * centroid literals, ties to the lower code) and sum the per-subspace
    * query-distance table lookups. The table is driver-computed with
    * ascending-dim sequential adds — the same order the oracle's list_sum
    * evaluates in. Keeps `v` so a re-rank stage can reuse it. */
  private def adcScored(
      cands: DataFrame,
      books: Array[Array[Array[Double]]],
      qv: Array[Double]): DataFrame = {
    val m = books.length
    val sub = books(0)(0).length
    val table: Array[Array[Double]] = books.zipWithIndex.map { case (cents, j) =>
      cents.map { c =>
        var acc = 0.0
        var i = 0
        while (i < sub) { val d = qv(j * sub + i) - c(i); acc += d * d; i += 1 }
        acc
      }
    }
    def codeCol(j: Int): Column = {
      val dists = books(j).zipWithIndex.map { case (c, ci) =>
        struct(
          aggregate(
            zip_with(slice(col("v"), j * sub + 1, sub), array(c.map(lit): _*),
              (x, y) => (x - y) * (x - y)),
            lit(0.0), (acc, d) => acc + d).as("d2"),
          lit(ci).as("cluster"))
      }
      element_at(array_sort(array(dists: _*)), 1).getField("cluster")
    }
    val adc = (0 until m)
      .map(j => element_at(array(table(j).map(lit): _*), col(s"code_$j") + 1))
      .reduce(_ + _)
    cands
      .select(col("neighbor_id") +: col("v") +:
        (0 until m).map(j => codeCol(j).as(s"code_$j")): _*)
      .withColumn("adc_d2", adc)
      .select("neighbor_id", "v", "adc_d2")
  }

  /** PQ/ADC with exact re-ranking — the high-recall operating point of the
    * same machinery (Jégou, Douze & Schmid 2011 §VII pair compressed-domain
    * search with a verification pass): the ADC scan keeps a `shortlist`-
    * sized candidate head, then the TRUE distance is computed for only
    * those candidates and the final top-k is ordered by it. Pure ADC recall
    * is bounded by quantization noise vs the inter-rank distance gaps
    * (q148 measures that floor honestly); the re-rank decouples recall from
    * the bit rate — the shortlist only has to CONTAIN the true neighbors,
    * not ORDER them.
    *
    * Scale shape: the corpus-sized work is still the compressed ADC scan +
    * TakeOrderedAndProject; the re-rank touches `shortlist` rows (a
    * broadcast-joined candidate list, constant-sized as the corpus grows)
    * at full dimension. Output: rank, neighbor_id, d2 (exact, round 6). */
  def knnPqAdcRerank(
      corpus: DataFrame,
      query: DataFrame,
      m: Int = 8,
      codes: Int = 16,
      iterations: Int = 2,
      shortlist: Int = 100,
      topK: Int = 10,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val cands = knnPqAdc(corpus, query, m, codes, iterations, shortlist,
      idCol, vecCol).select(col("neighbor_id"))
    val qLit = array(query
      .select(transform(col(vecCol), x => x.cast(DoubleType)).as("qv"))
      .head.getSeq[Double](0).map(lit): _*)
    corpus
      .select(col(idCol).cast("long").as("neighbor_id"),
        aggregate(
          zip_with(transform(col(vecCol), x => x.cast(DoubleType)), qLit,
            (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, d) => acc + d).as("d2"))
      .join(broadcast(cands), "neighbor_id")
      .orderBy(col("d2"), col("neighbor_id"))
      .limit(topK)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("d2"), col("neighbor_id"))))
      .select(col("rank"), col("neighbor_id"), round(col("d2"), 6).as("d2"))
  }

  /** IVF + PQ/ADC + exact re-rank — the full production ANN stack
    * (IVFADC with re-ranking, Jégou, Douze & Schmid 2011 §V/§VII), composed
    * from the three independently-gated stages: the deterministic coarse
    * quantizer routes the query to `nProbe` of `nCells` cells (q117's
    * sub-linear candidate generation), the candidates are scored in the
    * COMPRESSED domain (q142's ADC — m table lookups per vector, the codes
    * dim·32/(m·log₂ codes)× smaller than the floats), and the true distance
    * re-ranks only a constant-size shortlist (q161's recall knob).
    *
    * At 100 TB this is the architecture that works: the inverted lists
    * bound how much of the corpus is touched (nProbe/nCells of it), the PQ
    * codes bound the bytes per touched vector, and the re-rank bounds the
    * full-precision reads to `shortlist` rows — three knobs, each gated.
    * Scale shape: quantizer + codebooks are bounded driver state; cell
    * assignment and encoding are map-side codegen'd argmins; the only
    * shuffle is TakeOrderedAndProject heads. Output: rank, neighbor_id,
    * d2 (exact, round 6). */
  def knnIvfAdc(
      corpus: DataFrame,
      query: DataFrame,
      nCells: Int = 8,
      nProbe: Int = 2,
      quantizerIters: Int = 2,
      m: Int = 8,
      codes: Int = 16,
      pqIterations: Int = 2,
      shortlist: Int = 50,
      topK: Int = 10,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    // coarse routing in the normalized space (exactly q117's quantizer)
    val unitized = corpus.select(col(idCol), unit(col(vecCol)).as("__u"))
    val cents =
      Clustering.lloydCentroids(unitized, nCells, quantizerIters, idCol, "__u")
    val qRow = query
      .select(transform(col(vecCol), x => x.cast(DoubleType)).as("qv"),
        col(idCol).cast("long").as("qid"))
      .head
    val qv = qRow.getSeq[Double](0).toArray
    val qid = qRow.getLong(1)
    val probed = query
      .select(explode(nearestCells(cents, col(vecCol), nProbe)).as("cell"))
      .collect().map(_.getInt(0)).toSeq
    val books = pqCodebooks(corpus, m, codes, pqIterations, idCol, vecCol)
    val cands = corpus
      .select(col(idCol).cast("long").as("neighbor_id"),
        transform(col(vecCol), x => x.cast(DoubleType)).as("v"),
        element_at(nearestCells(cents, col(vecCol), 1), 1).as("cell"))
      .filter(col("cell").isin(probed: _*) && col("neighbor_id") =!= qid)
      .select("neighbor_id", "v")
    val short = adcScored(cands, books, qv)
      .orderBy(col("adc_d2"), col("neighbor_id"))
      .limit(shortlist)
    val qLit = array(qv.map(lit): _*)
    short
      .withColumn("d2",
        aggregate(zip_with(col("v"), qLit, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, d) => acc + d))
      .orderBy(col("d2"), col("neighbor_id"))
      .limit(topK)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("d2"), col("neighbor_id"))))
      .select(col("rank"), col("neighbor_id"), round(col("d2"), 6).as("d2"))
  }
}
