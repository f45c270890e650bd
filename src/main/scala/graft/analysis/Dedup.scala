package graft.analysis

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.SizeGate

/** Deduplication operators for training-data pipelines, in increasing
  * fuzziness: exact (hash groupBy), MinHash+LSH (near-dup candidate
  * generation at scale), exact n-gram Jaccard via inverted index, and
  * embedding-cosine near-dup (see [[Similarity]]).
  *
  * Scale doctrine:
  *  - exact dedup is one hash-aggregate on the fingerprint — the shuffle
  *    carries 〈fingerprint, id〉 pairs only, never document bodies;
  *  - MinHash+LSH replaces the O(n²) pair space with per-band hash buckets:
  *    the self-join shuffles on (band, band_hash), so only docs agreeing on a
  *    full band ever meet — this is the only known way to near-dedup 10⁹+
  *    documents (Broder's resemblance sketches);
  *  - the inverted-index Jaccard join is exact and still avoids n²: pairs are
  *    generated per shared shingle and hash-aggregated; worst case degrades
  *    with ubiquitous shingles — at web scale, drop shingles with document
  *    frequency above a cutoff first (they contribute no discrimination).
  *
  * Everything is md5-based so signatures are engine-portable and
  * deterministic (no RNG, no seed drift between runs/engines).
  */
object Dedup {

  /** x^n as a left-associated multiplication chain — engine-portable where
    * libm `pow()` is not: IEEE-754 multiply is bit-deterministic, so a
    * DuckDB oracle writing the same `x*x*...*x` chain lands on the
    * identical double. Only for small positive integer exponents. */
  private[analysis] def intPow(x: Column, n: Int): Column = {
    require(n >= 1, s"intPow exponent must be >= 1, got $n")
    Seq.fill(n)(x).reduceLeft(_ * _)
  }

  /** Spread `df` across the cluster before a CPU-bound projection —
    * WITHOUT paying a shuffle when the input already arrives in at least
    * cluster-parallelism many splits (a large corpus scan, a checkpointed
    * upstream stage). The old unconditional `repartition(par)` re-shuffled
    * the full document payload even when the source was already spread —
    * at corpus scale that is a whole-corpus text exchange for nothing
    * (guide §2.4: remove shuffles outright). The probe is free ONLY for
    * probe-safe plans (leaf scan / checkpointed RDD / projection-filter
    * chain — see the gate below); shuffled inputs keep the unconditional
    * spread rather than paying a doubled upstream execution. Results
    * never depend on partitioning (all hashing is md5-deterministic).
    * Streaming frames cannot be probed (`.rdd` is batch-only) and keep
    * the unconditional spread — a micro-batch is small by construction,
    * the exchange is trigger-sized. */
  private[analysis] def spreadForCpu(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LogicalPlan, Project}
    val par = df.sparkSession.sparkContext.defaultParallelism
    // The skip-probe is gated on the PLAN SHAPE (round-14 ADVICE): under
    // AQE, `.rdd` on a plan containing an exchange materializes every
    // upstream query stage as real Spark jobs — and that work is thrown
    // away, because the original df is returned and re-executed by the
    // caller. A leaf scan / checkpointed RDD / projection-filter chain
    // builds its RDD driver-side with no job, so only those probe; any
    // other shape keeps the unconditional (pre-r14) spread, which is at
    // worst one small exchange, never a doubled upstream execution.
    def probeSafe(p: LogicalPlan): Boolean = p match {
      case _: LeafNode => true
      case pr: Project => probeSafe(pr.child)
      case f: Filter => probeSafe(f.child)
      case _ => false
    }
    if (df.isStreaming) df.repartition(par)
    else if (probeSafe(df.queryExecution.optimizedPlan) &&
      df.rdd.getNumPartitions >= par) df
    else df.repartition(par)
  }

  /** Contiguous token n-grams ("shingles") as strings: size-n+1 of them for
    * size tokens, empty for documents shorter than n tokens.
    *
    * `tokens` may be an arbitrary (expensive) expression, so it is let-bound
    * through a single-element `transform` lambda: the lambda variable `tks`
    * is evaluated once per row in EVERY execution path. Referencing the raw
    * expression from inside the index lambda instead would re-evaluate it per
    * element access in paths without common-subexpression elimination
    * (interpreted projections, e.g. the cache-materialization path — measured
    * 150x slower on this exact query). */
  def shingles(tokens: Column, n: Int = 3): Column =
    element_at(
      transform(array(tokens), tks =>
        when(size(tks) >= n,
          transform(
            sequence(lit(0), size(tks) - n),
            i => concat_ws(" ", (0 until n).map(j => element_at(tks, i + j + 1)): _*)))
          .otherwise(array().cast(ArrayType(StringType)))),
      1)

  /** Distinct shingle set per document. */
  def shingleSet(text: Column, n: Int = 3): Column =
    array_distinct(shingles(TextAnalysis.tokens(text), n))

  /** MinHash signature: k independent permutations simulated by k salted
    * md5 hash families; the signature component is the lexicographic min.
    * Pr[min_i(A) == min_i(B)] = Jaccard(A,B) — Broder's estimator. */
  def minhashSignature(shingleSet: Column, k: Int = 16): Column =
    transform(
      sequence(lit(0), lit(k - 1)),
      i => array_min(transform(shingleSet, s => md5(concat(i.cast(StringType), lit("|"), s)))))

  /** LSH band keys: hash each band of `rowsPerBand` consecutive signature
    * components; docs sharing any full band become candidates.
    * With k=16, bands=4, r=4: P(candidate) = 1-(1-j⁴)⁴ — steep around j≈0.7. */
  def lshBandHashes(signature: Column, bands: Int = 4, rowsPerBand: Int = 4): Column =
    transform(
      sequence(lit(0), lit(bands - 1)),
      b => struct(
        b.as("band_id"),
        md5(concat_ws(",", slice(signature, b * rowsPerBand + 1, lit(rowsPerBand)))).as("band_hash")))

  /** Exact-duplicate groups by content fingerprint: one hash aggregate.
    * Output: fingerprint, keeper (min id), n_dupes, dup_ids (sorted). */
  def exactDupGroups(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs
      .select(col(idCol), TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))
      .groupBy("fingerprint")
      .agg(
        min(col(idCol)).as("keeper"),
        count(lit(1)).as("n_dupes"),
        array_sort(collect_list(col(idCol))).as("dup_ids"))

  /** Keep one document per fingerprint (the min-id row) — the actual dedup.
    * Window argmin over the fingerprint: single shuffle, no join back. */
  def dedupExact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("__fp").orderBy(col(idCol))
    docs
      .withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__fp", "__rn")
  }

  /** DEDUP SAVINGS report: what exact dedup would reclaim, per source —
    * the capacity-planning view of [[dedupExact]] (same fingerprint
    * groups, same min-id survivor rule) without materializing the
    * deduplicated corpus. A duplicate is charged to the source holding
    * the dropped COPY, so cross-source duplication shows up where the
    * redundant bytes actually live.
    *
    * Scale shape: one fingerprint window (the dedupExact shuffle) and one
    * grouped aggregate to a |sources|-sized report; savings is an
    * integer-ratio (no libm).
    * Output per source: source, n_docs, n_dup_docs, n_chars, dup_chars,
    * savings (round 6). */
  def dedupSavings(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      srcCol: String = "source"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("__fp").orderBy(col(idCol))
    docs
      .withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .withColumn("__rn", row_number().over(w))
      .groupBy(col(srcCol).as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__rn") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
        sum(length(col(textCol)).cast("long")).as("n_chars"),
        sum(when(col("__rn") > 1, length(col(textCol)).cast("long"))
          .otherwise(0L)).as("dup_chars"))
      .withColumn("savings",
        when(col("n_chars") > 0,
          round(col("dup_chars").cast("double") / col("n_chars").cast("double"), 6))
          .otherwise(0.0))
  }

  /** Near-duplicate pairs via MinHash+LSH candidates, verified with exact
    * Jaccard on the shingle sets. Output: doc_a, doc_b, jaccard (≥ minJaccard),
    * one row per unordered pair.
    *
    * Physical shape: shingle+signature projection (no shuffle) → explode
    * bands (4× row growth only) → self-join shuffled on (band_id, band_hash)
    * → distinct pairs → join back to shingle sets → exact verify. The
    * verification join is on doc ids of the (small) candidate set. */
  def minhashNearDupPairs(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleN: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      minJaccard: Double = 0.8): DataFrame = {
    // The shingle-set and signature arrays MUST be materialized, not left as
    // lazy expressions: Catalyst's CollapseProject would otherwise inline the
    // shingle computation into each of the k signature lambdas and the
    // signature into each band hash — a multiplicative re-computation blowup
    // (measured 100x on this query). persist() is also the production shape:
    // at corpus scale the signature table is a materialized artifact reused
    // by every dedup run, not something recomputed per query.
    //
    // spread first: signature hashing is CPU-bound, and a small input
    // file otherwise pins the whole corpus to one partition/core; inputs
    // already in enough splits skip the exchange (spreadForCpu).
    val withSets = spreadForCpu(docs).select(
      col(idCol).as("id"),
      shingleSet(col(textCol), shingleN).as("sh"))
      // docs shorter than the shingle size have empty sets → all-null
      // signatures → every band hash collapses to the same bucket and the
      // self-join re-creates the O(m²) pair space LSH exists to avoid; they
      // can't be near-dups of anything, so drop them up front (the SQL
      // oracle does the same with WHERE len(t) >= n)
      .filter(size(col("sh")) > 0)
      .persist()
    val sigs = withSets.select(
      col("id"),
      minhashSignature(col("sh"), k).as("sig"))
      .persist()
    val bandRows = sigs
      .select(col("id"), explode(lshBandHashes(col("sig"), bands, k / bands)).as("b"))
      .select(col("id"), col("b.band_id"), col("b.band_hash"))
    val candidates = bandRows.as("x")
      .join(bandRows.as("y"),
        col("x.band_id") === col("y.band_id") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("doc_a"), col("y.id").as("doc_b"))
      .distinct()
    val sets = withSets.select(col("id"), col("sh"))
    val result = candidates
      .join(sets.withColumnRenamed("id", "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
      .join(sets.withColumnRenamed("id", "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType) /
          size(array_union(col("sh_a"), col("sh_b"))).cast(DoubleType))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
    // eager localCheckpoint: the (small) pair set is materialized here, so
    // the sketch intermediates can be unpersisted before returning — callers
    // get a leak-free call (checkpoint blocks are ContextCleaner-managed,
    // persist() entries are not). Also the production shape: the pair set is
    // the artifact, the sketches are scaffolding.
    try result.localCheckpoint(true)
    finally { withSets.unpersist(); sigs.unpersist(); () }
  }

  /** b-bit minhash (Li & König): keep only the low `bBits` of each signature
    * component. At k=16, the full md5-string signature is ~512 bytes/doc;
    * 2-bit components pack into 4 BYTES — the 100 TB sketch-storage win.
    * The collision fraction f over the k components estimates Jaccard via
    * ĵ = (f − 2⁻ᵇ)/(1 − 2⁻ᵇ): matching minima always collide, non-matching
    * minima collide on b bits with probability 2⁻ᵇ, and the correction
    * inverts that mixture. This gate emits the estimate NEXT TO the exact
    * Jaccard on the LSH candidate pairs, so the estimator itself is
    * oracle-checked (a production pipeline materializes only the packed
    * b-bit sketch + band hashes and never re-reads text).
    * Output: doc_a, doc_b, jaccard (exact, ≥ minJaccard), jaccard_bbit. */
  def bbitMinhashPairs(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleN: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      bBits: Int = 2,
      minJaccard: Double = 0.8): DataFrame = {
    require(bBits >= 1 && bBits <= 4, s"bBits must be 1..4 (one hex char), got $bBits")
    val withSets = spreadForCpu(docs).select(
        col(idCol).as("id"), shingleSet(col(textCol), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)
      .persist()
    val sigs = withSets
      .select(col("id"), minhashSignature(col("sh"), k).as("sig"))
      .persist()
    // low b bits of a component = its last hex char mod 2^b (portable:
    // any engine with md5 + substring reproduces the packed sketch)
    def bbit(component: Column): Column =
      conv(substring(component, 32, 1), 16, 10).cast("long") % (1 << bBits)
    val bandRows = sigs
      .select(col("id"), explode(lshBandHashes(col("sig"), bands, k / bands)).as("b"))
      .select(col("id"), col("b.band_id"), col("b.band_hash"))
    val candidates = bandRows.as("x")
      .join(bandRows.as("y"),
        col("x.band_id") === col("y.band_id") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("doc_a"), col("y.id").as("doc_b"))
      .distinct()
    val matchFrac = aggregate(
      zip_with(col("sig_a"), col("sig_b"),
        (x, y) => when(bbit(x) === bbit(y), 1).otherwise(0)),
      lit(0), _ + _).cast(DoubleType) / k
    val invB = 1.0 / (1 << bBits)
    val result = candidates
      .join(withSets.select(col("id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(withSets.select(col("id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .join(sigs.select(col("id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sigs.select(col("id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType) /
          size(array_union(col("sh_a"), col("sh_b"))).cast(DoubleType))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"),
        round((matchFrac - lit(invB)) / lit(1.0 - invB), 4).as("jaccard_bbit"))
    try result.localCheckpoint(true)
    finally { withSets.unpersist(); sigs.unpersist(); () }
  }

  /** The (id, sh, sig) sketch frame the near-dup operators consume: distinct
    * shingle set + minhash signature per doc, short docs dropped. This is
    * the MATERIALIZED ARTIFACT of an incremental dedup — compute it when
    * docs arrive, write it next to the corpus, and hand it to
    * [[incrementalNearDupPairsAgainstSketch]] forever after. */
  def sketchDocs(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleN: Int = 3,
      k: Int = 16): DataFrame =
    spreadForCpu(docs)
      .select(col(idCol).as("id"), shingleSet(col(textCol), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", minhashSignature(col("sh"), k))

  /** [[minhashNearDupPairs]]'s verify half over an ALREADY-MATERIALIZED
    * (id, sh, sig) sketch ([[sketchDocs]]): band self-join for candidates,
    * exact Jaccard verify, threshold. Identical pair set to
    * [[minhashNearDupPairs]] on the sketched docs (same shingle/signature
    * expressions) — the shape for callers that have ALREADY paid for the
    * sketch artifact (e.g. [[graft.analysis.CorpusPrep.pretrainArtifacts]]
    * stores the sketch for tomorrow's cross join AND needs today's pair
    * set: sketch once, consume twice). The caller owns the sketch's
    * materialization; this reads it three times (two band sides + verify).
    * Output: doc_a, doc_b, jaccard (≥ minJaccard). */
  def nearDupPairsFromSketch(
      sketch: DataFrame,
      k: Int = 16,
      bands: Int = 4,
      minJaccard: Double = 0.8): DataFrame = {
    val bandRows = sketch
      .select(col("id"), explode(lshBandHashes(col("sig"), bands, k / bands)).as("b"))
      .select(col("id"), col("b.band_id"), col("b.band_hash"))
    val candidates = bandRows.as("x")
      .join(bandRows.as("y"),
        col("x.band_id") === col("y.band_id") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("doc_a"), col("y.id").as("doc_b"))
      .distinct()
    candidates
      .join(sketch.select(col("id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sketch.select(col("id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType) /
          size(array_union(col("sh_a"), col("sh_b"))).cast(DoubleType))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Incremental near-dup: NEW documents against an EXISTING corpus — the
    * shape a daily ingest actually runs. Only the new batch is sketched;
    * the existing side is the PRECOMPUTED (id, sh, sig) artifact from
    * [[sketchDocs]] (computed once when those docs arrived — re-sketching
    * the corpus per ingest would be the O(corpus) cost this operator
    * exists to avoid). The band join generates candidates strictly ACROSS
    * the boundary — new-vs-new dedup is [[minhashNearDupPairs]] on the
    * batch, and existing-vs-existing was settled when the existing docs
    * were new. Cost per day scales with |batch| × bucket collision rate,
    * never with corpus size.
    * Output: new_id, existing_id, jaccard (≥ minJaccard). */
  def incrementalNearDupPairsAgainstSketch(
      newDocs: DataFrame,
      existingSketch: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleN: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      minJaccard: Double = 0.8): DataFrame = {
    val newSide = sketchDocs(newDocs, textCol, idCol, shingleN, k).persist()
    try crossNearDupPairsFromSketches(newSide, existingSketch, k, bands, minJaccard)
    finally { newSide.unpersist(); () }
  }

  /** [[incrementalNearDupPairsAgainstSketch]] when BOTH sides are already
    * materialized (id, sh, sig) sketches — the shape of a daily ingest
    * that sketches its batch ONCE and consumes the sketch for the
    * within-batch pair join ([[nearDupPairsFromSketch]]), the cross join
    * here, AND tomorrow's stored artifact. The caller owns both sketches'
    * materialization. Output: new_id, existing_id, jaccard (≥ minJaccard). */
  def crossNearDupPairsFromSketches(
      newSketch: DataFrame,
      existingSketch: DataFrame,
      k: Int = 16,
      bands: Int = 4,
      minJaccard: Double = 0.8): DataFrame = {
    def bandRows(side: DataFrame) = side
      .select(col("id"), explode(lshBandHashes(col("sig"), bands, k / bands)).as("b"))
      .select(col("id"), col("b.band_id"), col("b.band_hash"))
    val candidates = bandRows(newSketch).as("x")
      .join(bandRows(existingSketch).as("y"),
        col("x.band_id") === col("y.band_id") && col("x.band_hash") === col("y.band_hash"))
      .select(col("x.id").as("new_id"), col("y.id").as("existing_id"))
      .distinct()
    val result = candidates
      .join(newSketch.select(col("id").as("new_id"), col("sh").as("sh_a")), "new_id")
      .join(existingSketch.select(col("id").as("existing_id"), col("sh").as("sh_b")), "existing_id")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType) /
          size(array_union(col("sh_a"), col("sh_b"))).cast(DoubleType))
      .filter(col("jaccard") >= minJaccard)
      .select(col("new_id"), col("existing_id"), round(col("jaccard"), 4).as("jaccard"))
    result.localCheckpoint(true)
  }

  /** Convenience overload sketching the existing side from raw docs — for
    * one-off runs and the correctness gate; production ingests pass the
    * materialized sketch to [[incrementalNearDupPairsAgainstSketch]]. */
  def incrementalNearDupPairs(
      newDocs: DataFrame,
      existingDocs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleN: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      minJaccard: Double = 0.8): DataFrame = {
    val oldSide = sketchDocs(existingDocs, textCol, idCol, shingleN, k).persist()
    try incrementalNearDupPairsAgainstSketch(
      newDocs, oldSide, textCol, idCol, shingleN, k, bands, minJaccard)
    finally { oldSide.unpersist(); () }
  }

  /** Exact n-gram Jaccard pairs via inverted-index join (no LSH, no n²):
    * explode distinct shingles, join on the shingle, count common shingles
    * per pair, then jaccard = common / (|A| + |B| - common).
    *
    * `maxShingleDf` is the web-scale guard: a shingle shared by m documents
    * contributes m²/2 join rows, so one boilerplate phrase present in 10⁶
    * docs would alone produce 5·10¹¹ rows — the latent quadratic of every
    * inverted-index self-join. Dropping shingles with document frequency
    * above the cutoff bounds the per-shingle fan-out at maxShingleDf²/2.
    * Semantics under a cutoff: dropped shingles leave the set sizes (the
    * jaccard denominator) untouched and only vanish from the common count —
    * the estimate is biased LOW, so the cutoff can only miss pairs, never
    * fabricate them, and any pair whose common shingles all sit below the
    * cutoff is returned with its exact score (DedupSpec proves both).
    * `Long.MaxValue` (default) disables the cutoff — exact for every pair. */
  def ngramJaccardPairs(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleN: Int = 3,
      minJaccard: Double = 0.8,
      maxShingleDf: Long = Long.MaxValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // materialized + spread + short-doc filtered for the same reasons as
    // minhashNearDupPairs
    val sets = spreadForCpu(docs)
      .select(col(idCol).as("id"), shingleSet(col(textCol), shingleN).as("sh"))
      .withColumn("n_sh", size(col("sh")))
      .filter(col("n_sh") > 0)
      .persist()
    val invertedAll = sets.select(col("id"), col("n_sh"), explode(col("sh")).as("shingle"))
    // df filter via a window count: ONE shuffle on the shingle, and the
    // resulting hash-partitioning is exactly what the self-join below needs,
    // so Catalyst reuses it (no second exchange)
    val inverted =
      if (maxShingleDf == Long.MaxValue) invertedAll
      else invertedAll
        .withColumn("__df", count(lit(1)).over(Window.partitionBy("shingle")))
        .filter(col("__df") <= maxShingleDf)
        .drop("__df")
    val common = inverted.as("x")
      .join(inverted.as("y"),
        col("x.shingle") === col("y.shingle") && col("x.id") < col("y.id"))
      .groupBy(
        col("x.id").as("doc_a"), col("y.id").as("doc_b"),
        col("x.n_sh").as("n_a"), col("y.n_sh").as("n_b"))
      .agg(count(lit(1)).as("common"))
    val result = common
      .withColumn("jaccard",
        col("common").cast(DoubleType) /
          (col("n_a") + col("n_b") - col("common")).cast(DoubleType))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
    // eager + unpersist, same contract as minhashNearDupPairs
    try result.localCheckpoint(true)
    finally { sets.unpersist(); () }
  }

  /** Asymmetric containment join — near-SUBSET detection. Containment
    * C(a→b) = |Sₐ ∩ S_b| / |Sₐ| is 1.0 when every shingle of a appears in
    * b (a is a template/boilerplate/quote embedded in b) even when their
    * Jaccard is tiny because b is much larger — exactly the pair family
    * symmetric near-dup ([[ngramJaccardPairs]]) is blind to; the standard
    * screen for extracted-fragment and template contamination in training
    * corpora (Broder's containment, the other half of the resemblance
    * paper).
    *
    * Scale shape identical to [[ngramJaccardPairs]]: one shuffle on the
    * shingle builds the inverted index (df cutoff drops ubiquitous
    * shingles before any pair exists), the pair aggregate runs on UNORDERED
    * pairs once, and both directions are then emitted by projection — the
    * asymmetry costs nothing extra.
    * Output: doc_src, doc_dst, containment (share of src's shingles also
    * in dst, round 4) — one row per direction that clears the threshold. */
  def containmentPairs(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleN: Int = 3,
      minContainment: Double = 0.9,
      maxShingleDf: Long = Long.MaxValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sets = spreadForCpu(docs)
      .select(col(idCol).as("id"), shingleSet(col(textCol), shingleN).as("sh"))
      .withColumn("n_sh", size(col("sh")))
      .filter(col("n_sh") > 0)
      .persist()
    val invertedAll = sets.select(col("id"), col("n_sh"), explode(col("sh")).as("shingle"))
    val inverted =
      if (maxShingleDf == Long.MaxValue) invertedAll
      else invertedAll
        .withColumn("__df", count(lit(1)).over(Window.partitionBy("shingle")))
        .filter(col("__df") <= maxShingleDf)
        .drop("__df")
    val common = inverted.as("x")
      .join(inverted.as("y"),
        col("x.shingle") === col("y.shingle") && col("x.id") < col("y.id"))
      .groupBy(
        col("x.id").as("doc_a"), col("y.id").as("doc_b"),
        col("x.n_sh").as("n_a"), col("y.n_sh").as("n_b"))
      .agg(count(lit(1)).as("common"))
    val directed = common
      .select(col("doc_a").as("doc_src"), col("doc_b").as("doc_dst"),
        col("n_a").as("n_src"), col("common"))
      .unionByName(common
        .select(col("doc_b").as("doc_src"), col("doc_a").as("doc_dst"),
          col("n_b").as("n_src"), col("common")))
    val result = directed
      .withColumn("containment", col("common").cast(DoubleType) / col("n_src").cast(DoubleType))
      .filter(col("containment") >= minContainment)
      .select(col("doc_src"), col("doc_dst"), round(col("containment"), 4).as("containment"))
    try result.localCheckpoint(true)
    finally { sets.unpersist(); () }
  }

  /** Connected components: (id, component) for every node, where
    * component = min node id in the component.
    *
    * This is the step near-dup PAIRS need to become dedup decisions: pair
    * sets are not transitive (A~B, B~C but A≁C), so keeping "one doc per
    * pair" under-deletes — the unit of dedup is the connected component.
    *
    * Scale shape: the edge-incident subgraph is labeled by
    * [[componentLabels]] — a single-task union-find when the measured
    * symmetrized edge set fits one task ([[graft.core.SizeGate]]; the
    * common case: near-dup populations are tiny next to the corpus), the
    * min-label propagation loop with one pointer jump per round above it
    * ([[componentLabelsLoop]]; diameter/2 rounds of equi-join + min
    * aggregate, all shuffles on node id). For adversarial above-gate
    * graphs the published O(log n) fix is alternating small-star/
    * large-star (Kiveris et al., "Connected Components in MapReduce and
    * Beyond") — same per-round shape, swap in if diameters grow beyond
    * tens.
    *
    * Edges whose endpoints are not in `nodes` are INERT (filtered before
    * the loop): an out-of-set id must never become a component label, or a
    * cluster could end up keeper-less (its min label pointing at a node
    * that does not exist downstream). Callers that can PROVE every
    * endpoint is in `nodes` (every in-repo dedup path: the pair feed is
    * generated from the node set itself) pass `edgesWithinNodes = true`
    * and skip the two corpus-sized semi-join exchanges — a plan-shape
    * change only, the filters are no-ops under the guarantee. */
  def connectedComponents(
      edges: DataFrame,
      nodes: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      idCol: String = "id",
      maxIter: Int = 20,
      edgesWithinNodes: Boolean = false): DataFrame = {
    val (labels, small) = componentLabels(edges, srcCol, dstCol, maxIter,
      nodeFilter = if (edgesWithinNodes) None else Some(nodes.select(col(idCol))))
    // singletons rejoin via a LEFT join; `labels` holds only edge-incident
    // nodes, so when the edge set is measured-small it broadcasts and the
    // corpus-sized `nodes` side never shuffles (guide §3.1: at 100 TB the
    // near-dup population is tiny next to the corpus — this join was the
    // one corpus-sized exchange in the old shape)
    nodes.select(col(idCol).as("id"))
      .join(if (small) broadcast(labels) else labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("component"))
  }

  /** Component labels over the EDGE-INCIDENT subgraph only: returns
    * (labels = (id, label = component min) for every edge-incident node,
    * small = measured size gate for broadcasting the label frame).
    * Only nodes touched by an edge can ever leave their own label —
    * everything else is a fixed point of min-label propagation, so the
    * cost scales with |pair-touched docs|, never |docs|; callers attach
    * singletons back with a left join.
    *
    * Two physical strategies behind one contract, picked by the MEASURED
    * bytes of the persisted symmetrized edge set ([[graft.core.SizeGate]];
    * checkpointed inputs carry no stats, so a planner estimate would be
    * garbage here):
    *
    *  - fits one task and long-typed ids (every in-repo graph): ONE
    *    streaming union-find task over the edge set ([[unionFindLabels]]).
    *    The round-15 measurement that motivates it: the iterative loop
    *    pays 2 jobs × O(diameter/2) rounds of pure fixed job latency on a
    *    gate-scale graph — the sf0.1 ensemble graph (2,348 sym rows) ran
    *    16 rounds ≈ 6.4 s of barriers to label ~2.3k edges, where a single
    *    task does the same exact closure in milliseconds. The same gate
    *    answer (`small`) lets the callers broadcast the label frame.
    *  - otherwise: the min-label propagation loop with one pointer jump
    *    per round ([[componentLabelsLoop]]) — the shuffle-join shape that
    *    scales out. */
  private[graft] def componentLabels(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIter: Int,
      nodeFilter: Option[DataFrame]): (DataFrame, Boolean) = {
    val sym0 = edges
      .select(col(srcCol).as("a"), col(dstCol).as("b"))
      .union(edges.select(col(dstCol).as("a"), col(srcCol).as("b")))
      .distinct()
    // both-endpoints-in-nodes filter: two semi-joins of the (small) edge
    // set against the node ids — only when the caller could not prove the
    // endpoints are in-set (see connectedComponents scaladoc)
    // materialized once: the gate measures it, every consumer reuses it
    val sym = SizeGate.materialized(nodeFilter.fold(sym0) { nodes =>
      val nodeIds = nodes.toDF("__nid")
      sym0
        .join(nodeIds.withColumnRenamed("__nid", "a"), Seq("a"), "left_semi")
        .join(nodeIds.withColumnRenamed("__nid", "b"), Seq("b"), "left_semi")
    })
    val small = SizeGate.fits(sym)
    val longIds = sym.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.LongType)
    // A/B-adjudicated r15 (site "cc-unionfind", branch removed): same-JVM
    // ratios vs the loop — q49 0.30, q178 0.33, q181 0.37, q129 0.36,
    // q282 0.69 (OPTIMIZATION_r15.md)
    if (small && longIds) {
      val labels = unionFindLabels(sym).localCheckpoint(true)
      sym.unpersist()
      return (labels, true)
    }
    (componentLabelsLoop(sym, maxIter), small)
  }

  /** Exact connected components of a measured-small symmetrized edge frame
    * in ONE task: coalesce the (persisted, gate-bounded) edges into a
    * single partition and stream them through a union-find with
    * min-root union and path compression — the root of every component is
    * its minimum node id, exactly the fixed point the propagation loop
    * converges to. Memory is one LongMap over the incident nodes (bounded
    * by the gate, see [[graft.core.SizeGate]]); edges are NOT retained.
    * Executor-side (a mapPartitions task, not a driver collect); output
    * is the (id, label) frame for every edge-incident node, set-identical
    * to [[componentLabelsLoop]] (DedupSpec pins the equivalence on
    * chain/star/cycle/disjoint fixtures). */
  private[graft] def unionFindLabels(sym: DataFrame): DataFrame = {
    val spark = sym.sparkSession
    import spark.implicits._
    sym.select(col("a"), col("b")).as[(Long, Long)]
      .coalesce(1)
      .mapPartitions { it =>
        val parent = new scala.collection.mutable.LongMap[Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x // path-compress the walked chain
          while (parent.getOrElse(c, c) != c) {
            val n = parent(c); parent(c) = r; c = n
          }
          r
        }
        while (it.hasNext) {
          val (a, b) = it.next()
          parent.getOrElseUpdate(a, a)
          parent.getOrElseUpdate(b, b)
          val ra = find(a)
          val rb = find(b)
          // min-root union: the surviving root is the smaller id, so every
          // component's root IS its min — the loop's exact fixed point
          if (ra < rb) parent(rb) = ra
          else if (rb < ra) parent(ra) = rb
        }
        parent.keysIterator.toArray.iterator.map(id => (id, find(id)))
      }
      .toDF("id", "label")
  }

  /** The min-label propagation loop ([[componentLabels]]' above-gate
    * strategy): each round every node takes the min of its own and its
    * neighbours' labels, then one pointer jump (label(v) ← label(label(v)))
    * compresses paths — diameter/2 rounds instead of diameter. Each round
    * localCheckpoints (iterative lineage would otherwise grow the plan
    * unboundedly); the convergence count reads the checkpointed partitions
    * (the old label rides along in `__old`). The per-round joins stay
    * SHUFFLE joins on purpose: this path only runs on graphs the gate
    * measured too big to broadcast or single-task. */
  private[graft] def componentLabelsLoop(sym: DataFrame, maxIter: Int): DataFrame = {
    var labels = sym.select(col("a").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
      .localCheckpoint(true)
    var round = 0
    var changed = 1L
    while (changed > 0 && round < maxIter) {
      val nbrMin = sym.join(labels, col("b") === col("id"))
        .groupBy(col("a")).agg(min(col("label")).as("nbr_label"))
      val stepped = labels.as("l")
        .join(nbrMin.as("m"), col("l.id") === col("m.a"), "left")
        .select(col("l.id").as("id"),
          least(col("l.label"), coalesce(col("m.nbr_label"), col("l.label"))).as("label"),
          col("l.label").as("__old"))
      // pointer jump: labels are node ids, so label(label(v)) is a valid —
      // and by monotonicity smaller-or-equal — label for v in the same
      // component; the left join tolerates labels pointing at already-
      // converged nodes outside the frame (coalesce keeps the stepped value).
      // stepped is referenced twice but NOT checkpointed: its parents are a
      // checkpointed RDD and the cached sym, so the duplicated subplan is
      // one shallow join — one fused job per round beats two materialization
      // jobs (measured 6.4s -> see PLANS.md; localCheckpoint per round was
      // the dominant cost at gate scale, not the joins)
      val next = stepped.as("x")
        .join(stepped.select(col("id").as("lid"), col("label").as("llabel")).as("y"),
          col("x.label") === col("y.lid"), "left")
        .select(col("x.id").as("id"),
          coalesce(col("y.llabel"), col("x.label")).as("label"),
          col("x.__old").as("__old"))
        .localCheckpoint(true)
      changed = next.filter(col("label") =!= col("__old")).count()
      labels = next.drop("__old")
      round += 1
    }
    sym.unpersist()
    require(changed == 0, s"connectedComponents did not converge in $maxIter rounds")
    labels
  }

  /** C4-style corpus-wide sentence dedup: only the FIRST occurrence — in
    * (doc_id, position) order — of each normalized sentence survives
    * anywhere in the corpus; documents are reassembled from their surviving
    * sentences in original order. This is the boilerplate scrub C4 runs
    * before document-level dedup (terms-of-service lines, cookie banners,
    * nav text repeat across millions of pages).
    *
    * Scale shape: shuffle on the normalized sentence key (row_number picks
    * the global first), then one groupBy doc to reassemble — sentence
    * bodies shuffle once each, and per-doc state is bounded by document
    * length. Output: doc_id, n_sentences, n_kept, deduped_text (empty if
    * every sentence was seen earlier). */
  def sentenceDedup(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sent = docs
      .select(col(idCol), posexplode(split(col(textCol), "\\. ")).as(Seq("pos", "sentence")))
      .withColumn("k", TextAnalysis.normalized(col("sentence")))
      .filter(col("k") =!= "")
    val kept = sent
      .withColumn("rn",
        row_number().over(Window.partitionBy("k").orderBy(col(idCol), col("pos"))))
      .filter(col("rn") === 1)
    val reassembled = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(". ",
          transform(array_sort(collect_list(struct(col("pos"), col("sentence")))),
            s => s.getField("sentence"))).as("deduped_text"))
    docs.select(col(idCol))
      .join(sent.groupBy(col(idCol)).agg(count(lit(1)).as("n_sentences")), Seq(idCol), "left")
      .join(reassembled, Seq(idCol), "left")
      .na.fill(0L, Seq("n_sentences", "n_kept"))
      .na.fill("", Seq("deduped_text"))
  }

  /** Fuzzy entity matching: pairs of near-identical strings (edit distance
    * ≤ maxDistance) WITHIN a blocking key — classic entity resolution.
    * Blocking is what makes this survive scale: the quadratic comparison
    * runs per block, so the blocking column must bound block sizes (brand,
    * zip, first-k chars...); an unblocked corpus-wide fuzzy join is
    * O(n²) by definition and deliberately not offered.
    *
    * `secondaryBlock` is the growth guard: a blocking column whose
    * cardinality is CONSTANT in corpus size (brand, category...) gives
    * within-block pair counts that grow quadratically with the data — at
    * 100× the rows that is 10,000× the pairs. A secondary blocking feature
    * derived from the string itself (first token, phonetic key, first-k
    * chars) multiplies the block count by a data-dependent factor, restoring
    * near-linear growth. It is deliberately SEMANTIC: only pairs agreeing
    * exactly on the feature are returned (recall is traded for scale, the
    * standard entity-resolution bargain), so it defaults to None — exact
    * within the primary block. A composite (block, length-band) join key was
    * measured and REJECTED here: it only splits blocks whose length
    * distribution is wide, and on clustered lengths (real-world entity
    * names) the ±d band explode costs more than it prunes.
    *
    * Output: blockCol, id_a, id_b, str_a, str_b, distance. */
  def fuzzyMatchPairs(
      df: DataFrame,
      blockCol: String,
      idCol: String,
      strCol: String,
      maxDistance: Int = 2,
      secondaryBlock: Option[Column => Column] = None): DataFrame = {
    // Three sound bounds evaluated cheapest-first in the join condition, so
    // violating pairs never reach the DP (none changes the result set):
    //  1. |len(a)-len(b)| ≤ d — lengths precomputed per ROW (not per pair);
    //  2. bit_count(sig_a XOR sig_b) ≤ 2d over a 64-bit char-class presence
    //     bitmap: one edit inserts/deletes/substitutes one CHARACTER,
    //     flipping at most 2 presence bits (the removed class and the added
    //     class), so lev ≤ d forces XOR popcount ≤ 2d. Class collisions
    //     (ascii mod 64) only make the filter less selective, never
    //     unsound. Soundness requires one class per CHARACTER, but
    //     split("") yields UTF-16 code units — a supplementary-plane char
    //     (emoji) splits into two lone surrogates, which would contribute
    //     two classes while levenshtein counts one char. All surrogate
    //     code units (0xD800-0xDFFF) therefore collapse into a single
    //     class: any astral char contributes exactly that one bit, and the
    //     ≤2-flips-per-edit bound holds for every Unicode string;
    //  3. thresholded levenshtein abandons the DP early (returns -1) once
    //     the distance provably exceeds d — and it is evaluated ONCE per
    //     surviving candidate, as a single `>= 0` conjunct INSIDE the join
    //     condition: the a-priori-equivalent post-join
    //     `withColumn(lev).filter(between(0, d))` shape was measured 3.5×
    //     slower on the same pair set, because `between` expands to two
    //     conjuncts that each evaluate the alias (two DPs per pair) and the
    //     output projection computes a third. Survivors (a tiny fraction)
    //     recompute the DP once more for the output column — bounded by the
    //     RESULT size, not the candidate count.
    val charSig = aggregate(
      split(col(strCol), ""),
      lit(0L),
      (acc, c) => {
        val cp = ascii(c)
        val cls = when(cp.between(0xD800, 0xDFFF), lit(63)).otherwise(cp % lit(64))
        acc.bitwiseOR(call_function("shiftleft", lit(1L), cls))
      })
    val side = df.select(
      Seq(col(blockCol), col(idCol), col(strCol),
        length(col(strCol)).as("__len"), charSig.as("__sig")) ++
        secondaryBlock.map(f => f(col(strCol)).as("__blk2")).toSeq: _*)
    val blk2Eq = secondaryBlock
      .map(_ => col("a.__blk2") === col("b.__blk2")).getOrElse(lit(true))
    side.as("a")
      .join(side.as("b"),
        col(s"a.$blockCol") === col(s"b.$blockCol") &&
          blk2Eq &&
          col(s"a.$idCol") < col(s"b.$idCol") &&
          abs(col("a.__len") - col("b.__len")) <= maxDistance &&
          bit_count(col("a.__sig").bitwiseXOR(col("b.__sig"))) <= 2 * maxDistance &&
          levenshtein(col(s"a.$strCol"), col(s"b.$strCol"), maxDistance) >= 0)
      .select(col(s"a.$blockCol").as(blockCol),
        col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        col(s"a.$strCol").as("str_a"), col(s"b.$strCol").as("str_b"),
        levenshtein(col(s"a.$strCol"), col(s"b.$strCol"), maxDistance).as("distance"))
  }

  /** Prefix-filtered set-similarity join (AllPairs/PPJoin family, Bayardo
    * et al. WWW'07): LOSSLESS candidate pruning for jaccard ≥ t — unlike
    * MinHash banding ([[minhashNearDupPairs]], probabilistic) or the df
    * cutoff ([[ngramJaccardPairs]], biased low), the prefix filter provably
    * misses nothing: two sets with jaccard ≥ t must share at least one
    * token among each one's first |s| − ⌈t·|s|⌉ + 1 tokens in the GLOBAL
    * frequency order, so indexing only those prefixes still finds every
    * qualifying pair. Rarest-first ordering makes the indexed tokens the
    * low-df ones — candidate fan-out per token stays small exactly where a
    * full inverted index explodes.
    *
    * Scale shape: one df aggregate (vocabulary-sized), one window per doc
    * to rank tokens (shuffle on doc id), a self-join confined to PREFIX
    * postings, and exact verification on the candidates only. The gate
    * proves losslessness: the oracle computes exact jaccard over ALL pairs
    * and the engine must hash-match it.
    * Output: doc_a, doc_b, jaccard (round 4). */
  def prefixJaccardPairs(
      docs: DataFrame,
      minJaccard: Double = 0.6,
      shingleSize: Int = 3,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sets = docs
      .select(col(idCol).as("id"), shingleSet(col(textCol), shingleSize).as("sh"))
      .filter(size(col("sh")) > 0)
      .persist()
    // tokens ride as 64-bit hashes through the candidate machinery: the
    // shuffle/sort/join keys are longs, not 25-char shingle strings. This
    // stays LOSSLESS: the global order is (df, h, tok) — fully consistent
    // across docs (the string tie-break only fires between hash-colliding
    // tokens) — and the candidate join on h is prefix-correct because a
    // colliding class occupies contiguous ranks, so "some member in the
    // prefix" ⟺ "h in the hashed prefix". Collisions can only ADD
    // candidates, and verification is exact on the original shingle sets.
    val postings = sets.select(col("id"), size(col("sh")).as("len"),
      explode(col("sh")).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    // df via a window over the postings themselves: one shuffle on the
    // token hash, versus the aggregate+join shape's two
    val ranked = postings
      .withColumn("df", count(lit(1)).over(Window.partitionBy("h")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("id").orderBy(col("df"), col("h"), col("tok"))))
      // prefix length |s| − ⌈t|s|⌉ + 1 (rarest-first order)
      .filter(col("rn") <= col("len") - ceil(lit(minJaccard) * col("len")) + 1)
      .select("h", "id")
    val cand = ranked.as("a")
      .join(ranked.as("b"), col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .distinct()
    val result = cand
      .join(sets.select(col("id").as("doc_a"), col("sh").as("sha")), "doc_a")
      .join(sets.select(col("id").as("doc_b"), col("sh").as("shb")), "doc_b")
      .withColumn("jaccard", round(
        size(array_intersect(col("sha"), col("shb"))).cast("double") /
          size(array_union(col("sha"), col("shb"))).cast("double"), 4))
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "jaccard")
    try result.localCheckpoint(true)
    finally { sets.unpersist(); () }
  }

  /** Fellegi–Sunter record-linkage scoring over blocked candidate pairs:
    * each compared field contributes its agreement weight (≈ log2(m/u),
    * supplied by the caller from labeled data or priors) when it matches
    * and its disagreement weight when it doesn't; the pair's score is the
    * sum, and pairs at or above `threshold` are emitted as links.
    *
    * Unlike [[fuzzyMatchPairs]] — which only keeps pairs whose strings
    * match — every blocked pair is SCORED, disagreements included, so the
    * string-distance DP runs once per candidate pair in the post-join
    * projection (never in a join conjunct that would re-evaluate it).
    * Blocking is therefore the entire scale story: pass a composite
    * `blocks` list whose cardinality grows with the data (brand × first
    * name token here, phonetic keys in general); multi-pass blocking is
    * the union of calls with different `blocks`.
    *
    * Output: id_a, id_b, one agree_<field> flag per exact field,
    * name_distance (null when beyond `fuzzyMaxDist`), score. */
  def linkageScores(
      df: DataFrame,
      idCol: String,
      blocks: Seq[(String, Column)],
      exactFields: Seq[(String, Double, Double)],
      fuzzyField: String,
      fuzzyMaxDist: Int,
      fuzzyWeights: (Double, Double),
      threshold: Double): DataFrame = {
    val sideCols =
      (idCol +: fuzzyField +: exactFields.map(_._1)).distinct.map(col) ++
        blocks.map { case (n, e) => e.as(n) }
    val side = df.select(sideCols: _*)
    val joinCond = blocks
      .map { case (n, _) => col(s"a.$n") === col(s"b.$n") }
      .reduce(_ && _) && col(s"a.$idCol") < col(s"b.$idCol")
    val lev = levenshtein(col(s"a.$fuzzyField"), col(s"b.$fuzzyField"), fuzzyMaxDist)
    val agreeFlags = exactFields.map { case (f, _, _) =>
      (col(s"a.$f") === col(s"b.$f")).cast("int").as(s"agree_$f")
    }
    val exactScore = exactFields.map { case (f, wa, wd) =>
      when(col(s"agree_$f") === 1, lit(wa)).otherwise(lit(wd))
    }.reduce(_ + _)
    val fuzzyScore = when(col("name_distance").isNotNull, lit(fuzzyWeights._1))
      .otherwise(lit(fuzzyWeights._2))
    side.as("a")
      .join(side.as("b"), joinCond)
      .select(
        col(s"a.$idCol").as("id_a") +: col(s"b.$idCol").as("id_b") +:
          agreeFlags :+
          when(lev >= 0, lev).as("name_distance"): _*)
      .withColumn("score", round(exactScore + fuzzyScore, 4))
      .filter(col("score") >= threshold)
  }

  /** Pairs → dedup decisions: cluster near-dup pairs into connected
    * components over the full doc set (singletons keep themselves) and mark
    * the canonical keeper (min id per component).
    * Output: doc_id, cluster_id, is_keeper. */
  def dedupClusters(
      pairs: DataFrame,
      docs: DataFrame,
      idCol: String = "doc_id",
      pairA: String = "doc_a",
      pairB: String = "doc_b",
      pairsWithinDocs: Boolean = false): DataFrame =
    connectedComponents(pairs, docs, srcCol = pairA, dstCol = pairB,
      idCol = idCol, edgesWithinNodes = pairsWithinDocs)
      .select(col("id").as(idCol), col("component").as("cluster_id"),
        (col("id") === col("component")).as("is_keeper"))

  /** QUALITY-KEEPER dedup policy — the FineWeb/production survivor rule:
    * near-dup clusters keep the HIGHEST-QUALITY member, not the minimum
    * id ([[dedupClusters]]'s policy, which throws away a signal the
    * pipeline already computed). Keeper per component = argmax
    * (scoreCol desc, id asc) — one struct-min aggregation per cluster,
    * deterministic by construction when the score is integer-quantized
    * (pass quality CENTI-units, not the raw double).
    *
    * Scale shape: one components pass over the pair-touched subgraph (the
    * caller's pair feed decides banded-vs-exact cost), one argmax
    * aggregate over the CLUSTERED docs only, then one left join of the
    * corpus-sized `scored` frame against the (label → keeper) map — under
    * the measured size gate that map broadcasts, so the corpus never
    * shuffles before the final ORDER BY. Singletons are their own keeper
    * by definition (cluster_id = id, is_keeper = true), exactly the
    * verdict the old corpus-wide argmax produced for one-member clusters.
    * `pairsWithinScored = true` additionally skips the endpoint semi-join
    * exchanges (see [[connectedComponents]]).
    * Output: doc_id, cluster_id, quality_centi, is_keeper. */
  def dedupClustersKeepBest(
      pairs: DataFrame,
      scored: DataFrame,
      idCol: String = "doc_id",
      pairA: String = "doc_a",
      pairB: String = "doc_b",
      scoreCol: String = "quality_centi",
      pairsWithinScored: Boolean = false): DataFrame = {
    val (labels0, small) = componentLabels(pairs, pairA, pairB, maxIter = 20,
      nodeFilter = if (pairsWithinScored) None else Some(scored.select(col(idCol))))
    val labels = labels0.withColumnRenamed("id", idCol)
    def bc(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    // argmax over clustered docs only: scores attach to the label frame
    // (label-population-sized), not the whole corpus
    val clustered = scored.join(bc(labels), idCol)
    val best = clustered.groupBy("label")
      .agg(min(struct((-col(scoreCol)).as("ns"), col(idCol).as("bid"))).as("b"))
      .select(col("label"), col("b.bid").as("keeper_id"))
    val labelKeeper = labels.join(bc(best), "label")
    scored
      .join(bc(labelKeeper), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("label"), col(idCol)).as("cluster_id"),
        col(scoreCol),
        coalesce(col(idCol) === col("keeper_id"), lit(true)).as("is_keeper"))
      .orderBy(idCol)
  }

  /** Duplicated-span detection — SUBSTRING-level dedup (the Lee et al.,
    * ACL 2022 "Deduplicating Training Data Makes Language Models Better"
    * shape): every contiguous `spanTokens`-token window of every document is
    * fingerprinted, and spans occurring in at least `minDocs` DISTINCT
    * documents are reported with document frequency, total occurrence count,
    * and the lexicographically-first location 〈doc, token offset〉. Document-
    * level dedup ([[dedupExact]]/[[minhashNearDupPairs]]) misses boilerplate
    * repeated INSIDE otherwise-distinct documents; this operator is the
    * standard complement that finds it.
    *
    * Scale shape: the window expansion multiplies rows by ~tokens/doc —
    * inherent to substring dedup — but the span TEXT never shuffles: each
    * window is reduced to a 60-bit md5 fingerprint inside the projection,
    * so the exchange carries only 〈fp, doc_id, start〉 and the groupBy is
    * one hash aggregate with map-side partials. This trades the reference
    * literature's suffix-array pass (which needs the whole corpus resident)
    * for a shuffle that is linear in token count and embarrassingly
    * partitionable — the variant that survives 100 TB. The struct-min gives
    * a deterministic first location (no arbitrary-row nondeterminism).
    * Output: span_fp, n_docs, n_occurrences, first_doc, first_start. */
  def duplicatedSpans(
      docs: DataFrame,
      spanTokens: Int = 8,
      minDocs: Int = 2,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(spanTokens > 0 && minDocs > 0,
      s"need positive spanTokens/minDocs, got $spanTokens/$minDocs")
    duplicatedSpansFromIndex(spanIndex(docs, spanTokens, textCol, idCol), minDocs)
  }

  /** Mergeable span index at 〈span_fp, doc_id〉 grain: per-doc occurrence
    * count and first offset for every distinct span a document contains.
    * This is [[duplicatedSpans]]' pre-aggregate, exposed because it is the
    * MATERIALIZABLE artifact of the daily-ingest shape: rows are keyed by
    * doc, so index(corpus ∪ batch) = index(corpus) ∪ index(batch) exactly
    * (disjoint doc sets never share a row), and a daily increment
    * tokenizes ONLY its batch — cost ∝ |batch|, never the corpus (the q78
    * incremental law, at substring granularity). */
  def spanIndex(
      docs: DataFrame,
      spanTokens: Int = 8,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val toks = array_remove(TextAnalysis.tokens(col(textCol)), "")
    docs
      .select(col(idCol).as("doc_id"), shingles(toks, spanTokens).as("spans"))
      .select(col("doc_id"), posexplode(col("spans")).as(Seq("start", "span")))
      .select(col("doc_id"), col("start"),
        conv(substring(md5(col("span")), 1, 15), 16, 10).cast(LongType).as("span_fp"))
      .groupBy("span_fp", "doc_id")
      .agg(count(lit(1)).as("n_occ"), min("start").as("min_start"))
  }

  /** [[duplicatedSpans]]' report over a (possibly merged) [[spanIndex]]:
    * n_docs is a plain count because the index is unique per
    * 〈span_fp, doc_id〉, so the merge needs no distinct-rollup. */
  def duplicatedSpansFromIndex(index: DataFrame, minDocs: Int = 2): DataFrame =
    index
      .groupBy("span_fp")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_occ").as("n_occurrences"),
        min(struct(col("doc_id"), col("min_start").as("start"))).as("loc"))
      .filter(col("n_docs") >= minDocs)
      .select(col("span_fp"), col("n_docs"), col("n_occurrences"),
        col("loc.doc_id").as("first_doc"), col("loc.start").cast(IntegerType).as("first_start"))

  /** Dedup THRESHOLD SWEEP: the `minJaccard` dial as a measured curve —
    * for each candidate threshold t = d/10 (d = 1..9), how many verified
    * pairs survive and how many documents are AFFECTED (have at least one
    * partner at ≥ t, i.e. would join a dup cluster). The operating-point
    * report every dedup rollout needs before committing a threshold:
    * n_pairs is the work downstream clustering pays, n_docs_affected the
    * blast radius on the corpus.
    *
    * Scale shape: scores come in from any pair generator (banded/
    * inverted-index — text is never rescanned here); BOTH curves fall out
    * of one pass — pairs histogrammed by score decile, docs by their MAX
    * partner score (affected at t iff max ≥ t) — and the reverse
    * cumulative sums run over ≤ 10 aggregated rows.
    * Output: threshold, n_pairs, n_docs_affected. */
  def thresholdSweep(pairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val decOf = (c: Column) => least(floor(c * 10), lit(9)).cast("int")
    val pb = pairs.select(decOf(col("jaccard")).as("d"))
      .groupBy("d").agg(count(lit(1)).as("np"))
    val nd = pairs.select(col("doc_a").as("id"), col("jaccard"))
      .unionByName(pairs.select(col("doc_b").as("id"), col("jaccard")))
      .groupBy("id").agg(max("jaccard").as("mx"))
      .select(decOf(col("mx")).as("d"))
      .groupBy("d").agg(count(lit(1)).as("ndocs"))
    val spine = pairs.sparkSession.range(1, 10)
      .select(col("id").cast("int").as("d"))
    val w = Window.orderBy(desc("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine
      .join(pb, Seq("d"), "left")
      .join(nd, Seq("d"), "left")
      .select(col("d"),
        coalesce(col("np"), lit(0L)).as("np"),
        coalesce(col("ndocs"), lit(0L)).as("ndocs"))
      .select((col("d").cast("double") / 10).as("threshold"),
        sum(col("np")).over(w).as("n_pairs"),
        sum(col("ndocs")).over(w).as("n_docs_affected"))
  }

  /** Duplicated-span MASKS — the REMOVAL side of [[duplicatedSpans]] (Lee
    * et al., ACL 2022: exact substring dedup cuts the repeated bytes, not
    * the document): per document, the token intervals covered by spans
    * occurring in ≥ `minDocs` distinct documents, merged into maximal
    * islands, plus the duplicated-token budget. Emitting MASKS instead of
    * rewritten text keeps the operator relational and auditable — the mask
    * IS the dedup decision; the cut is a trivial downstream slice.
    *
    * Scale shape: the span fingerprints shuffle, the text never does
    * (q136's index); duplicated-fp selection is one grouped count; the
    * island merge is a window PER DOCUMENT over that document's duplicated
    * span starts only — bounded by tokens/doc, independent of corpus size.
    * With fixed span length L, islands split exactly where
    * `start − lag(start) > L`, so the merge is one lag + one running sum.
    * Output: doc_id, n_tokens, n_dup_spans, n_islands, n_dup_tokens,
    * dup_ratio (6dp; 0 for undersized/clean docs). */
  def spanMasks(
      docs: DataFrame,
      spanTokens: Int = 8,
      minDocs: Int = 2,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(spanTokens > 0 && minDocs > 0,
      s"need positive spanTokens/minDocs, got $spanTokens/$minDocs")
    val toks = array_remove(TextAnalysis.tokens(col(textCol)), "")
    val occ = docs
      .select(col(idCol).as("doc_id"), shingles(toks, spanTokens).as("spans"))
      .select(col("doc_id"), posexplode(col("spans")).as(Seq("start", "span")))
      .select(col("doc_id"), col("start"),
        conv(substring(md5(col("span")), 1, 15), 16, 10).cast(LongType).as("span_fp"))
    val dupFps = occ.groupBy("span_fp")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select("span_fp")
    val w = Window.partitionBy("doc_id").orderBy("start")
    val islands = occ.join(dupFps, "span_fp")
      .withColumn("brk",
        when(col("start") - lag(col("start"), 1).over(w) > spanTokens, 1)
          .otherwise(when(lag(col("start"), 1).over(w).isNull, 1).otherwise(0)))
      .withColumn("island", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "island")
      .agg(count(lit(1)).as("n_spans"),
        (max(col("start")) + spanTokens - min(col("start"))).as("island_tokens"))
      .groupBy("doc_id")
      .agg(sum(col("n_spans")).as("n_dup_spans"),
        count(lit(1)).as("n_islands"),
        sum(col("island_tokens")).as("n_dup_tokens"))
    docs.select(col(idCol).as("doc_id"), size(toks).cast(LongType).as("n_tokens"))
      .join(islands, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("n_islands"), lit(0L)).as("n_islands"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"),
        when(col("n_tokens") > 0,
          round(coalesce(col("n_dup_tokens"), lit(0L)).cast(DoubleType) /
            col("n_tokens").cast(DoubleType), 6))
          .otherwise(0.0).as("dup_ratio"))
  }

  /** CROSS-DOC MAXIMAL SHARED RUNS — the report real exact-substring
    * dedup pipelines ACT on (Lee et al., ACL 2022, generalized past
    * q136/q188's fixed-length grain): for every document pair sharing at
    * least one `spanTokens`-token span, the maximal shared token runs —
    * each run a diagonal of consecutive matching fingerprint positions,
    * its length `(max_start − min_start) + spanTokens` exact because with
    * true substring equality a diagonal can't skip (if positions p and
    * p+2 match on one diagonal, p+1 must: its first L−1 tokens sit inside
    * p's match and its last inside p+2's). Per pair: run count, shared
    * span count, and the LONGEST shared run in tokens — the "how much is
    * verbatim-shared, contiguously" number a dedup rollout cuts on.
    *
    * Scale shape: the q87 gaps-and-islands trick over (pair, diagonal)
    * groups — fingerprints shuffle, text never does; the self-join on
    * span_fp is df-bounded by `maxDocsPerSpan` (boilerplate spans in more
    * documents than the cap are excluded and REPORTED downstream-side by
    * q188's mask path instead — the standard inverted-index df bound; 0
    * disables for gate-SF runs). The islands window partitions by
    * (doc_a, doc_b, diagonal) — bounded by per-doc span counts,
    * independent of corpus size.
    * Output: doc_a, doc_b, n_runs, n_shared_spans, max_run_tokens. */
  def sharedRuns(
      docs: DataFrame,
      spanTokens: Int = 8,
      maxDocsPerSpan: Int = 0,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(spanTokens > 0, s"need positive spanTokens, got $spanTokens")
    val toks = array_remove(TextAnalysis.tokens(col(textCol)), "")
    val occ = docs
      .select(col(idCol).as("doc_id"), shingles(toks, spanTokens).as("spans"))
      .select(col("doc_id"), posexplode(col("spans")).as(Seq("start", "span")))
      .select(col("doc_id"), col("start").cast(LongType).as("start"),
        conv(substring(md5(col("span")), 1, 15), 16, 10).cast(LongType).as("span_fp"))
    val bounded =
      if (maxDocsPerSpan <= 0) occ
      else occ.join(
        occ.groupBy("span_fp")
          .agg(countDistinct(col("doc_id")).as("nd"))
          .filter(col("nd") <= maxDocsPerSpan)
          .select("span_fp"),
        "span_fp")
    val pairs = bounded.as("a")
      .join(bounded.as("b"),
        col("a.span_fp") === col("b.span_fp") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.start").as("sa"), (col("a.start") - col("b.start")).as("diag"))
    val w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("sa")
    pairs
      .withColumn("brk",
        when(lag(col("sa"), 1).over(w).isNull, 1)
          .otherwise(when(col("sa") - lag(col("sa"), 1).over(w) > 1, 1)
            .otherwise(0)))
      .withColumn("run", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_a", "doc_b", "diag", "run")
      .agg(count(lit(1)).as("n_spans"),
        (max(col("sa")) - min(col("sa")) + spanTokens).as("run_tokens"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_runs"),
        sum("n_spans").as("n_shared_spans"),
        max("run_tokens").as("max_run_tokens"))
      .orderBy("doc_a", "doc_b")
  }

  /** DECONTAMINATION MASKS — [[spanMasks]] pointed at a benchmark: the
    * token intervals of each corpus document that collide with ANY span
    * of the eval set, merged into maximal islands. This is the removal
    * form of q50's contamination SCORE (the industry practice: drop or
    * cut n-gram collisions with held-out benchmarks rather than the whole
    * document — q188 masks within-corpus duplication, this masks eval
    * leakage). A document with masked_ratio 1.0 is a verbatim benchmark
    * copy; small ratios are quotation-level contamination a cut handles.
    *
    * Scale shape: eval span fingerprints are a SMALL frame (benchmarks
    * are tiny next to the corpus) — the fp membership join broadcasts;
    * corpus text never shuffles (only 〈doc, start〉 hits do), and the
    * island merge windows per document over its hits only.
    * Output: doc_id, n_tokens, n_hits, n_islands, n_masked_tokens,
    * masked_ratio (6dp). */
  def contaminationMasks(
      docs: DataFrame,
      evalDocs: DataFrame,
      spanTokens: Int = 8,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(spanTokens > 0, s"need positive spanTokens, got $spanTokens")
    def occOf(d: DataFrame): DataFrame = {
      val toks = array_remove(TextAnalysis.tokens(col(textCol)), "")
      d.select(col(idCol).as("doc_id"), shingles(toks, spanTokens).as("spans"))
        .select(col("doc_id"), posexplode(col("spans")).as(Seq("start", "span")))
        .select(col("doc_id"), col("start"),
          conv(substring(md5(col("span")), 1, 15), 16, 10).cast(LongType).as("span_fp"))
    }
    val evalFps = occOf(evalDocs).select("span_fp").distinct()
    val hits = occOf(docs).join(broadcast(evalFps), "span_fp")
      .select("doc_id", "start")
    val w = Window.partitionBy("doc_id").orderBy("start")
    val islands = hits
      .withColumn("brk",
        when(col("start") - lag(col("start"), 1).over(w) > spanTokens, 1)
          .otherwise(when(lag(col("start"), 1).over(w).isNull, 1).otherwise(0)))
      .withColumn("island", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "island")
      .agg(count(lit(1)).as("n_spans"),
        (max(col("start")) + spanTokens - min(col("start"))).as("island_tokens"))
      .groupBy("doc_id")
      .agg(sum(col("n_spans")).as("n_hits"),
        count(lit(1)).as("n_islands"),
        sum(col("island_tokens")).as("n_masked_tokens"))
    val toks = array_remove(TextAnalysis.tokens(col(textCol)), "")
    docs.select(col(idCol).as("doc_id"), size(toks).cast(LongType).as("n_tokens"))
      .join(islands, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("n_islands"), lit(0L)).as("n_islands"),
        coalesce(col("n_masked_tokens"), lit(0L)).as("n_masked_tokens"),
        when(col("n_tokens") > 0,
          round(coalesce(col("n_masked_tokens"), lit(0L)).cast(DoubleType) /
            col("n_tokens").cast(DoubleType), 6))
          .otherwise(0.0).as("masked_ratio"))
  }

  /** Duplicate-aware loss weights — SOFT dedup: instead of deleting the
    * losers of a dup cluster, every member keeps weight 1/|cluster| so the
    * cluster contributes one document's worth of gradient in total. The
    * standard alternative when hard removal is too aggressive (legitimate
    * templates, quotations) or when reproducibility demands keeping the
    * corpus intact; downstream trainers consume the weight column
    * directly. Composes over any cluster assignment —
    * [[dedupClusters]] over any pair feed (exact, banded, ensemble).
    *
    * Scale shape: one grouped count over the assignment joined back by the
    * cluster key — both frames 〈id, cluster〉-narrow.
    * Output: idCol, cluster_id, n_members, weight (round 6). */
  def dedupWeights(clusters: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val sizes = clusters.groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
    clusters.select(col(idCol), col("cluster_id"))
      .join(sizes, "cluster_id")
      .select(col(idCol), col("cluster_id"), col("n_members"),
        round(lit(1.0) / col("n_members").cast(DoubleType), 6).as("weight"))
  }

  /** LSH S-curve validation — the tuning report behind every banded-LSH
    * threshold choice: for each Jaccard decile, the EMPIRICAL fraction of
    * pairs that became band candidates next to the THEORETICAL collision
    * probability 1−(1−j^r)^b at the decile midpoint. The (bands, rows)
    * config is a recall/cost dial set by staring at exactly this curve;
    * shipping the curve as an operator turns "we picked b=4, r=4" from
    * folklore into a measured operating point (the q148/q161 honesty
    * pattern applied to dedup).
    *
    * The exact Jaccards come from an INVERTED shingle index, not an
    * all-pairs join: only pairs sharing ≥ 1 shingle ever materialize
    * (j = common/(|A|+|B|−common)), and the zero-overlap mass lands in
    * decile 0 arithmetically (C(n,2) − |seen pairs|) — the same trick
    * that makes q32/q57 tractable, measured 47 s → 18 s at sf0.1 vs the
    * naive all-pairs formulation this replaced (the residual cost is the
    * high-df shingle fan-out, which a cutoff would bias and so stays). Caller-sampled docs remain the
    * knob for corpus-scale runs (the banded generator can't feed this
    * curve: it never yields the low-j pairs the curve exists to count).
    * Output per non-empty decile: decile, n_pairs, n_candidates,
    * emp_rate_ppm, theo_rate_ppm — ALL integer columns. The gate carries
    * no engine-evaluated float at all (the round-6/7 driver-hash lesson:
    * `round(double, 6)` and libm drift across DuckDB builds, so the
    * empirical rate is a round-half-up BIGINT parts-per-million division
    * and the theoretical S-curve is [[lshTheoPpm]]'s driver-computed
    * literals). The ppm division `(2c·10⁶ + p) div 2p` stays in Long up
    * to p ≈ 4.6e12 pairs (≈ C(3M, 2) docs per curve run) — beyond the
    * sampled-diagnostic envelope this operator is for. */
  /** Theoretical LSH S-curve 1−(1−m^r)^b at each Jaccard-decile midpoint
    * m = d/10 + 0.05, as integer parts-per-million — computed ONCE,
    * driver-side, in plain JVM arithmetic, and embedded as literals in
    * both the Spark plan and the DuckDB oracle SQL. No query engine ever
    * evaluates pow()/round() on these values, so the tuning-curve gate
    * column is invariant across engine BUILDS, not just engines (the
    * round-6/7 lesson: bit-exact vs one DuckDB build still hash-missed
    * the driver's different build on libm/double-round drift). */
  def lshTheoPpm(bands: Int, rowsPerBand: Int): IndexedSeq[Long] = {
    def ipow(x: Double, p: Int): Double = (1 until p).foldLeft(x)((a, _) => a * x)
    (0 until 10).map { d =>
      val mid = d / 10.0 + 0.05
      math.round((1.0 - ipow(1.0 - ipow(mid, rowsPerBand), bands)) * 1e6)
    }
  }

  def lshTuningCurve(
      docs: DataFrame,
      n: Int = 3,
      bands: Int = 4,
      rowsPerBand: Int = 4,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val k = bands * rowsPerBand
    val spark = docs.sparkSession
    val base = docs
      .select(col(idCol).as("id"), shingleSet(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", minhashSignature(col("sh"), k))
      .persist()
    var grouped: DataFrame = null
    try {
      val cand = base.select(col("id"),
          explode(lshBandHashes(col("sig"), bands, rowsPerBand)).as("b"))
        .select(col("id"), col("b.band_id"), col("b.band_hash"))
      val candPairs = cand.as("x").join(cand.as("y"),
          col("x.band_id") === col("y.band_id") &&
            col("x.band_hash") === col("y.band_hash") &&
            col("x.id") < col("y.id"))
        .select(col("x.id").as("a"), col("y.id").as("b")).distinct()
        .withColumn("is_cand", lit(1L))
      val sizes = base.select(col("id"), size(col("sh")).as("sz"))
      val inv = base.select(col("id"), explode(col("sh")).as("g"))
      // decile of the Jaccard ratio in PURE INTEGER arithmetic:
      // floor(10·common/union) == (10·common) div union for positive
      // integers, so no engine ever materializes the DOUBLE ratio — the
      // group key is cross-build invariant by construction (the round-8
      // float key `floor(j*10)` was the last build-sensitive construct)
      val scored = inv.as("x").join(inv.as("y"),
          col("x.g") === col("y.g") && col("x.id") < col("y.id"))
        .groupBy(col("x.id").as("a"), col("y.id").as("b"))
        .agg(count(lit(1)).as("common"))
        .join(sizes.select(col("id").as("a"), col("sz").as("sza")), "a")
        .join(sizes.select(col("id").as("b"), col("sz").as("szb")), "b")
        .select(col("a"), col("b"),
          least(expr("(10 * common) div (sza + szb - common)"), lit(9))
            .cast("int").as("sdec"))
      grouped = scored
        .join(candPairs, Seq("a", "b"), "full_outer")
        .select(
          coalesce(col("sdec"), lit(0)).cast("int").as("decile"),
          coalesce(col("is_cand"), lit(0L)).as("c"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_seen"), sum("c").as("n_candidates"))
        .persist() // consumed twice: totals + the final join — the shingle
                   // fan-out join above is the dominant cost, run it once
      val totals = base.agg(count(lit(1)).as("nd")).crossJoin(
          grouped.agg(coalesce(sum("n_seen"), lit(0L)).as("seen")))
        .select(expr("nd * (nd - 1) div 2 - seen").as("unseen"))
      val spine = spark.range(1).select(lit(0).cast("int").as("decile"))
      val theo = array(lshTheoPpm(bands, rowsPerBand).map(lit(_)): _*)
      grouped
        .join(spine, Seq("decile"), "full_outer")
        .crossJoin(broadcast(totals))
        .select(col("decile"),
          (coalesce(col("n_seen"), lit(0L)) +
            when(col("decile") === 0, col("unseen")).otherwise(0L)).as("n_pairs"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"))
        .filter(col("n_pairs") > 0)
        .select(col("decile"), col("n_pairs"), col("n_candidates"),
          // round-half-up integer ppm: (2c·10⁶ + p) div 2p — pure BIGINT
          // arithmetic, identical on every engine/build by construction
          expr("(n_candidates * 2000000 + n_pairs) div (2 * n_pairs)")
            .as("emp_rate_ppm"),
          element_at(theo, col("decile") + 1).as("theo_rate_ppm"))
    } finally {
      base.unpersist()
      if (grouped != null) grouped.unpersist()
      ()
    }
  }

  /** Stage-checksum canary for the q180 gate: one row per LSH pipeline
    * stage — sets → shingles → sigs → bands → cand → scored — carrying the
    * stage's row count and a 60-bit md5 XOR over a stage-identifying
    * string. Every checksum input is integer/string-derived (no float math
    * anywhere), so if a different DuckDB build ever diverges from this
    * plan, the FIRST stage whose (n_rows, xor60) differs localizes the
    * drift instead of an end-of-pipe hash miss on the tuning curve.
    * Mirrors [[lshTuningCurve]]'s derivation exactly (same shingle set,
    * signature, banding, candidate join, and integer decile). Round 10
    * extends the canary over the TAIL the round-9 driver run localized the
    * q180 drift into: `tail_po` checksums every post-full-outer-join
    * (a, b, decile, is_cand) row and `tail_zadj` the final pre-projection
    * (decile, n_pairs, n_candidates) frame — so a residual q180 miss now
    * names its exact stage instead of "after scored". */
  def lshStageChecksums(
      docs: DataFrame,
      n: Int = 3,
      bands: Int = 4,
      rowsPerBand: Int = 4,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val k = bands * rowsPerBand
    val base = docs
      .select(col(idCol).as("id"), shingleSet(col(textCol), n).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", minhashSignature(col("sh"), k))
      .persist()
    def stageAgg(name: String, df: DataFrame, key: Column): DataFrame =
      df.select(Sketches.hash60(key).as("hh"))
        .agg(count(lit(1)).as("n_rows"),
          expr("coalesce(bit_xor(hh), 0)").as("xor60"))
        .select(lit(name).as("stage"), col("n_rows"), col("xor60"))
    try {
      val sets = base.select(col("id"), size(col("sh")).as("sz"))
      val inv = base.select(col("id"), explode(col("sh")).as("g"))
      val sigsJ = base.select(col("id"), concat_ws(",", col("sig")).as("sj"))
      val bandRows = base.select(col("id"),
          explode(lshBandHashes(col("sig"), bands, rowsPerBand)).as("b"))
        .select(col("id"), col("b.band_id"), col("b.band_hash"))
      val cand = bandRows.as("x").join(bandRows.as("y"),
          col("x.band_id") === col("y.band_id") &&
            col("x.band_hash") === col("y.band_hash") &&
            col("x.id") < col("y.id"))
        .select(col("x.id").as("a"), col("y.id").as("b")).distinct()
      val scored = inv.as("x").join(inv.as("y"),
          col("x.g") === col("y.g") && col("x.id") < col("y.id"))
        .groupBy(col("x.id").as("a"), col("y.id").as("b"))
        .agg(count(lit(1)).as("common"))
        .join(sets.select(col("id").as("a"), col("sz").as("sza")), "a")
        .join(sets.select(col("id").as("b"), col("sz").as("szb")), "b")
        .select(col("a"), col("b"), col("common"),
          least(expr("(10 * common) div (sza + szb - common)"), lit(9))
            .cast("int").as("sdec"))
      // q180's tail, replicated stage-for-stage: full-outer fold of scored
      // deciles against the candidate set (carried is_cand marker — same
      // COALESCE test as the de-dialected oracle), then the decile
      // grouping + unseen-mass adjustment
      val po = scored.select(col("a"), col("b"), col("sdec"))
        .join(cand.withColumn("is_cand", lit(1L)), Seq("a", "b"), "full_outer")
        .select(col("a"), col("b"),
          coalesce(col("sdec"), lit(0)).cast("int").as("decile"),
          coalesce(col("is_cand"), lit(0L)).as("c"))
      val grouped = po.groupBy("decile")
        .agg(count(lit(1)).as("n_seen"), sum("c").as("n_candidates"))
        .localCheckpoint(true) // referenced three times below
      val totals = base.agg(count(lit(1)).as("nd")).crossJoin(
          grouped.agg(coalesce(sum("n_seen"), lit(0L)).as("seen")))
        .select(expr("nd * (nd - 1) div 2 - seen").as("unseen"))
      val spine = base.sparkSession.range(1)
        .select(lit(0).cast("int").as("decile"))
      val adj = grouped
        .join(spine, Seq("decile"), "full_outer")
        .crossJoin(broadcast(totals))
        .select(col("decile"),
          (coalesce(col("n_seen"), lit(0L)) +
            when(col("decile") === 0, col("unseen")).otherwise(0L)).as("n_pairs"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"))
        .filter(col("n_pairs") > 0)
      stageAgg("sets", sets, concat_ws("|", col("id"), col("sz")))
        .unionByName(stageAgg("shingles", inv, concat_ws("|", col("id"), col("g"))))
        .unionByName(stageAgg("sigs", sigsJ, concat_ws("|", col("id"), col("sj"))))
        .unionByName(stageAgg("bands", bandRows,
          concat_ws("|", col("id"), col("band_id"), col("band_hash"))))
        .unionByName(stageAgg("cand", cand, concat_ws("|", col("a"), col("b"))))
        .unionByName(stageAgg("scored", scored,
          concat_ws("|", col("a"), col("b"), col("common"), col("sdec"))))
        .unionByName(stageAgg("tail_po", po,
          concat_ws("|", col("a"), col("b"), col("decile"), col("c"))))
        .unionByName(stageAgg("tail_zadj", adj,
          concat_ws("|", col("decile"), col("n_pairs"), col("n_candidates"))))
        .orderBy("stage")
        .localCheckpoint(true) // eight 1-row aggregates over the cached
                               // base: materialize before unpersisting it
    } finally {
      base.unpersist()
      ()
    }
  }

  /** Ensemble dedup signals: the text view (MinHash-verified Jaccard
    * pairs) FULL-OUTER-joined with the embedding view (cosine pairs) —
    * the precision/recall dial every production dedup ends up needing.
    * Surface dup detectors and semantic ones fail differently (templated
    * boilerplate is a text dup but not a semantic one; a paraphrase is
    * the reverse), so the disagreement matrix is the deliverable: `both`
    * is the high-precision drop set, either-only feeds review/thresholds.
    *
    * Scale shape: both inputs are already-bounded pair frames (banded LSH
    * / cell-bounded generators upstream — never all-pairs here); the
    * full-outer join shuffles on the pair key. Output: doc_a, doc_b,
    * jaccard (null if embedding-only), cosine (null if text-only),
    * signal ∈ both | text_only | embedding_only. */
  def ensembleSignals(textPairs: DataFrame, vecPairs: DataFrame): DataFrame = {
    val tp = textPairs.select(col("doc_a"), col("doc_b"), col("jaccard"))
    val ep = vecPairs.select(col("doc_a"), col("doc_b"), col("cosine"))
    tp.join(ep, Seq("doc_a", "doc_b"), "full_outer")
      .select(col("doc_a"), col("doc_b"), col("jaccard"), col("cosine"),
        when(col("jaccard").isNotNull && col("cosine").isNotNull, "both")
          .when(col("jaccard").isNotNull, "text_only")
          .otherwise("embedding_only").as("signal"))
  }

  /** Cross-source overlap matrix over n-gram shingles — the corpus-
    * governance statistic behind mixture decisions: before weighting
    * sources (q121/q140/q145), measure how much of each source is ALREADY
    * inside the others. For every source pair, the number of distinct
    * shingles they share and the overlap coefficient
    * n_shared / min(n_a, n_b) (Szymkiewicz–Simpson — 1.0 means the smaller
    * source's shingle vocabulary is fully contained in the larger's).
    * Shingle granularity (vs whole-doc fingerprints) is what makes the
    * matrix non-trivial on real corpora: near-misses and partial copies
    * count, not just byte-identical documents.
    *
    * Scale shape: text reduces to distinct 〈shingle, source〉 tuples
    * immediately (one shuffle on the shingle hash — the md5 keeps wide
    * shingle text out of the exchange); the pair fan-out per shingle is
    * bounded by the SOURCE count (handfuls, by definition), never the
    * corpus; per-source sizes broadcast back onto the matrix. Output:
    * source_a, source_b, n_shared, n_a, n_b, overlap (round 6) — only
    * pairs that actually share (the matrix is sparse by construction). */
  def sourceOverlap(
      docs: DataFrame,
      n: Int = 5,
      textCol: String = "text",
      sourceCol: String = "source"): DataFrame =
    sourceOverlapFromArtifact(sourceOverlapArtifact(docs, n, textCol, sourceCol))

  /** The matrix's mergeable artifact: distinct 〈shingle-md5, source〉
    * tuples. Distinct-union is the merge — artifact(c ∪ b) =
    * distinct(artifact(c) ∪ artifact(b)) by construction, which is what
    * makes the overlap matrix INCREMENTAL: a daily batch tokenizes only
    * itself, and the stored artifact never rescans
    * ([[DedupSpec]] pins the law; q179 gates the increment against the
    * whole-corpus rebuild). */
  def sourceOverlapArtifact(
      docs: DataFrame,
      n: Int = 5,
      textCol: String = "text",
      sourceCol: String = "source"): DataFrame =
    docs
      .select(col(sourceCol).as("src"),
        explode(shingleSet(col(textCol), n)).as("g"))
      .select(col("src"), md5(col("g")).as("fp"))
      .distinct()

  /** The pair-join/coefficient tail of [[sourceOverlap]] over a
    * pre-built (possibly merged) artifact. */
  def sourceOverlapFromArtifact(artifact: DataFrame): DataFrame = {
    val fps = artifact.persist()
    try {
      val per = fps.groupBy("src").agg(count(lit(1)).as("n"))
      val shared = fps.as("a")
        .join(fps.as("b"),
          col("a.fp") === col("b.fp") && col("a.src") < col("b.src"))
        .groupBy(col("a.src").as("source_a"), col("b.src").as("source_b"))
        .agg(count(lit(1)).as("n_shared"))
      shared
        .join(broadcast(per.select(col("src").as("source_a"), col("n").as("n_a"))),
          "source_a")
        .join(broadcast(per.select(col("src").as("source_b"), col("n").as("n_b"))),
          "source_b")
        .select(col("source_a"), col("source_b"), col("n_shared"),
          col("n_a"), col("n_b"),
          round(col("n_shared").cast(DoubleType) /
            least(col("n_a"), col("n_b")).cast(DoubleType), 6).as("overlap"))
    } finally { fps.unpersist(); () }
  }

  /** Content-defined chunking (CDC) dedup estimate — the fixed-window
    * chunker's shift-robust sibling (and the dedup shape that scales past
    * text to the binary/multimodal columns): position i ends a chunk iff
    * the mod-prime Horner hash of the trailing `window` char codes is
    * ≡ 0 (mod 2^maskBits), so boundaries ride WITH the content and an
    * insertion near the head re-chunks only its neighbourhood, where
    * fixed-size chunking would shift every downstream chunk (the
    * rsync/LBFS/backup-dedup argument). Expected chunk ≈ 2^maskBits
    * chars. Chunks are content-hashed and deduplicated corpus-wide.
    *
    * Scale shape: boundary detection is a per-doc codegen'd HOF pass
    * (O(window) work per char, no shuffle); the only shuffle is the
    * chunk-hash aggregate, map-side combinable, chunk-count-sized. The
    * per-chunk frame never carries chunk text — 60-bit hashes and lengths
    * only (the q136 fingerprint-before-shuffle rule).
    *
    * Cross-build portability: boundaries are exact mod-prime integer
    * arithmetic, chunk ids the md5 house hash; every gate ratio is the
    * round-half-up BIGINT ppm division.
    * Output (1 row): n_docs, n_chunks, n_unique_chunks, dup_chunk_ppm,
    * chars_total, chars_dedup, savings_ppm. */
  def cdcChunkDedup(
      docs: DataFrame,
      window: Int = 16,
      maskBits: Int = 5,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val counts = cdcChunkCounts(docs, window, maskBits, textCol, idCol)
    val nDocs = docs
      .filter(length(TextAnalysis.normalized(col(textCol))) > 0)
      .agg(count(lit(1)).as("n_docs"))
    cdcReportFromCounts(counts, nDocs)
  }

  /** The CDC chunk-count ARTIFACT behind [[cdcChunkDedup]]: one row per
    * distinct chunk hash 〈h, n, l〉. Counts merge by per-h (Σn, min l) —
    * the mergeable-artifact property backup dedup systems are built on —
    * so an incremental ingest folds each batch in at batch cost and the
    * merged report is LAW-equal to a whole-corpus rebuild (q230). */
  def cdcChunkCounts(
      docs: DataFrame,
      window: Int = 16,
      maskBits: Int = 5,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    cdcChunkRows(docs, window, maskBits, textCol, idCol)
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n"), min(col("l")).as("l"))

  /** The per-chunk rows 〈id, h, l〉 behind [[cdcChunkCounts]] — the
    * stateless per-document half of the CDC pipeline (chunking is per-doc,
    * so batches merge by summing n and keeping min l per hash). */
  def cdcChunkRows(
      docs: DataFrame,
      window: Int = 16,
      maskBits: Int = 5,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(window >= 2 && maskBits >= 1 && maskBits <= 20)
    val norm = TextAnalysis.normalized(col(textCol))
    // spread the per-char work across the cluster BEFORE the chunking
    // projection: a small parquet layer arrives as few (often one)
    // input splits, which would pin the whole per-char hot loop to one
    // core of the cluster; already-spread inputs skip the exchange
    val base = spreadForCpu(docs
      .select(col(idCol), norm.as("t"), length(norm).as("len"))
      .filter(col("len") > 0))
    // boundary positions: mod-prime Horner hash of the trailing `window`
    // char codes ≡ 0 (mod 2^maskBits) — pure integer multiply/add/mod,
    // exact and identical on any engine build. Evaluated by the native
    // ROLLING expression (one mul/add/sub/mod per char; Spark has no scan
    // HOF, so the O(chars) form needs an Expression) — bit-identical to
    // the declarative per-position fold kept in
    // [[cdcBoundariesDeclarative]] and spec-gated against it; the DuckDB
    // oracle carries the declarative form. Chunk IDENTITY below stays the
    // 60-bit md5 house hash, one per CHUNK, not one per char. Doc end is
    // excluded by the expression and appended unconditionally, so no
    // list-dedup semantics are in play.
    val bs = graft.functions.CdcBoundaries.cdcBoundaries(col("t"), window, maskBits)
    val withEnds = base.withColumn("ends",
      concat(bs, array(col("len").cast("int"))))
    val chunks = withEnds.select(
      col(idCol),
      explode(transform(col("ends"), (e, i) => {
        val start = when(i === 0, lit(1))
          .otherwise(element_at(col("ends"), i) + 1)
        struct(
          Sketches.hash60(col("t").substr(start, e - start + 1)).as("h"),
          (e - start + 1).cast("long").as("l"))
      })).as("c"))
    chunks.select(col(idCol), col("c.h").as("h"), col("c.l").as("l"))
  }

  /** The declarative O(window·chars) twin of
    * [[graft.functions.CdcBoundaries]] — per-position Horner fold over a
    * code array, exactly the shape the DuckDB oracle evaluates. Kept as
    * the cross-implementation gate: CdcSpec asserts the native rolling
    * expression and this fold produce identical boundary sets. */
  private[graft] def cdcBoundariesDeclarative(
      text: Column, window: Int, maskBits: Int): Column = {
    val mask = 1L << maskBits
    val M = 1000000007L
    val cs = transform(split(text, ""), c => ascii(c))
    val len = size(cs)
    def horner(i: Column): Column =
      (0 until window).foldLeft(lit(0L)) { (acc, j) =>
        pmod(acc * lit(257L) +
          element_at(cs, (i - lit(window - 1 - j)).cast("int")), lit(M))
      }
    when(len >= window,
      filter(
        sequence(lit(window), len),
        i => i < len && pmod(horner(i), lit(mask)) === 0))
      .otherwise(array().cast("array<int>")).cast("array<int>")
  }

  /** [[cdcChunkDedup]]'s report from a (possibly merged) chunk-count
    * artifact plus a 1-row n_docs frame. */
  def cdcReportFromCounts(perHash: DataFrame, nDocs: DataFrame): DataFrame =
    perHash
      .agg(sum("n").as("n_chunks"), count(lit(1)).as("n_unique_chunks"),
        sum(col("n") * col("l")).as("chars_total"), sum("l").as("chars_dedup"))
      .crossJoin(broadcast(nDocs))
      .select(col("n_docs"), col("n_chunks"), col("n_unique_chunks"),
        expr("((n_chunks - n_unique_chunks) * 2000000 + n_chunks) div (2 * n_chunks)")
          .as("dup_chunk_ppm"),
        col("chars_total"), col("chars_dedup"),
        expr("((chars_total - chars_dedup) * 2000000 + chars_total) div (2 * chars_total)")
          .as("savings_ppm"))

  /** WINNOWING fingerprints (Schleimer–Wilkerson–Aiken 2003 — the MOSS
    * algorithm): per document, the distinct set of k-gram hashes that are
    * the MINIMUM of at least one sliding window of `window` consecutive
    * k-gram hashes. The winnowing theorem gives the two properties no
    * other fingerprinter here has at once: every shared substring of
    * length ≥ k + window − 1 is GUARANTEED to contribute at least one
    * shared fingerprint (no false negatives above the noise threshold —
    * unlike MinHash's probabilistic recall), while expected density is
    * only 2/(window+1) of all k-grams (unlike q32's full inverted index).
    * Completes the local-fingerprint family: CDC (q228) selects content-
    * defined CHUNK boundaries, this selects content-defined WITNESSES.
    *
    * Determinism: hashes are [[Sketches.hash60]] md5 values (engine-
    * replicable), the window minimum is an integer `min` over an ANSI
    * ROWS frame, and only FULL windows select (positions ≤ n_grams −
    * window, so frame shrinkage at the tail never fabricates a
    * fingerprint) — every stage replays identically in any SQL engine.
    *
    * Scale shape: one window pass per document (shuffle on doc id; the
    * per-doc sort is the streaming-friendly kind AQE handles), then the
    * distinct fingerprint projection — output rows ≈ corpus k-grams ×
    * 2/(window+1). Output: idCol, fp (60-bit BIGINT). */
  def winnowingFingerprints(
      docs: DataFrame,
      k: Int = 5,
      window: Int = 4,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(k >= 1 && window >= 1, s"need k/window >= 1, got $k/$window")
    val grams = docs
      .select(col(idCol), posexplode(
          shingles(TextAnalysis.tokens(col(textCol)), k)).as(Seq("pos", "g")))
      .select(col(idCol), col("pos"), Sketches.hash60(col("g")).as("h"))
    val w = Window.partitionBy(idCol).orderBy("pos")
    grams
      .select(col(idCol), col("pos"),
        min("h").over(w.rowsBetween(Window.currentRow, window - 1)).as("fp"),
        count(lit(1)).over(w.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)).as("ng"))
      .filter(col("pos") <= col("ng") - window)
      .select(col(idCol), col("fp")).distinct()
  }

  /** Near-duplicate report over [[winnowingFingerprints]]: document pairs
    * sharing ≥ `minShared` fingerprints, with the Szymkiewicz–Simpson
    * overlap coefficient in integer ppm. The guarantee inherited from
    * winnowing makes this the COVERAGE-exact screen: any pair sharing a
    * run of k+window−1 tokens WILL appear (contrast q31, where banding
    * can miss it), so an empty report is evidence of absence.
    *
    * Scale shape: the pair generator is an inverted-index join on the
    * fingerprint value — fan-out per fingerprint is its document
    * frequency, so `maxDf` drops boilerplate fingerprints shared by more
    * than `maxDf` docs (the q32 df-cutoff argument: a fingerprint in
    * thousands of documents identifies a template, not a copy; it would
    * contribute df² pairs and no signal). Output: doc_a, doc_b, n_shared,
    * n_a, n_b, overlap_ppm — all BIGINT. */
  def winnowingNearDupPairs(
      docs: DataFrame,
      k: Int = 5,
      window: Int = 4,
      minShared: Int = 2,
      maxDf: Int = 1000,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    winnowingPairsFromFingerprints(
      winnowingFingerprints(docs, k, window, textCol, idCol),
      minShared, maxDf, idCol)

  /** GUARANTEED-DETECTION decontamination: corpus documents screened
    * against an eval set through shared winnowing fingerprints. The
    * winnowing theorem upgrades [[incrementalNearDupPairs]]'s fuzzy screen
    * (q158) from probabilistic to CERTIFIED: any corpus document sharing a
    * run of ≥ k + window − 1 tokens with any eval document is guaranteed
    * at least one shared fingerprint — so an empty report is a
    * no-leakage certificate at that granularity, the statement an eval
    * card actually needs (banded MinHash can only say "probably none").
    *
    * Scale shape: the eval side is the small side by definition — its
    * fingerprint artifact broadcasts; the corpus side streams through one
    * fingerprint pass and a broadcast-hash probe (no shuffle of corpus
    * fingerprints). Corpus fingerprints in more than `maxDf` corpus
    * documents are template noise, not leakage, and are dropped on both
    * engines (the q245 cutoff argument). Output per flagged corpus doc:
    * doc_id, n_eval_matches (eval docs hit), n_shared_fps (total shared
    * 〈fp, eval doc〉 pairs), matched_eval_doc + best_shared (the argmax
    * eval partner, ties to the lower id) — all BIGINT. */
  def winnowingDecontam(
      corpus: DataFrame,
      eval: DataFrame,
      k: Int = 5,
      window: Int = 4,
      maxDf: Int = 1000,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    winnowingDecontamFromFingerprints(
      winnowingFingerprints(corpus, k, window, textCol, idCol),
      winnowingFingerprints(eval, k, window, textCol, idCol),
      maxDf, idCol)

  /** [[winnowingDecontam]]'s readout from prebuilt (possibly merged)
    * fingerprint artifacts: the certificate never needs the raw text
    * again, so a live monitor maintains the corpus artifact incrementally
    * (per-doc independence = union merge, the q249 law) and re-runs only
    * this broadcast probe. */
  def winnowingDecontamFromFingerprints(
      corpusFps: DataFrame,
      evalFps: DataFrame,
      maxDf: Int = 1000,
      idCol: String = "doc_id"): DataFrame = {
    val cf = corpusFps.withColumnRenamed(idCol, "cid").persist()
    try {
      val bounded = cf.groupBy("fp").agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf).select("fp")
      val ef = evalFps.withColumnRenamed(idCol, "eid")
      val perPair = cf.join(bounded, "fp")
        .join(broadcast(ef), "fp")
        .groupBy("cid", "eid").agg(count(lit(1)).as("shared"))
      perPair
        .groupBy("cid")
        .agg(count(lit(1)).as("n_eval_matches"),
          sum("shared").as("n_shared_fps"),
          max(struct(col("shared"), (-col("eid")).as("nid"))).as("best"))
        .select(col("cid").as(idCol), col("n_eval_matches"),
          col("n_shared_fps"), (-col("best.nid")).as("matched_eval_doc"),
          col("best.shared").as("best_shared"))
        .localCheckpoint(true) // consumed after the finally-unpersist
    } finally { cf.unpersist(); () }
  }

  /** [[winnowingNearDupPairs]]'s report from a (possibly merged)
    * fingerprint artifact. [[winnowingFingerprints]] is per-document
    * independent, so the artifact is INCREMENTAL by construction: a new
    * batch fingerprints only itself, artifacts merge by plain union
    * (distinct per doc already), and the merged report reproduces the
    * whole-corpus rebuild bit-for-bit — q249's LAW gate, the q179/q230
    * pattern applied to winnowing. */
  def winnowingPairsFromFingerprints(
      fingerprints: DataFrame,
      minShared: Int = 2,
      maxDf: Int = 1000,
      idCol: String = "doc_id"): DataFrame = {
    val fps = fingerprints.withColumnRenamed(idCol, "id").persist()
    try {
      val bounded = fps.groupBy("fp").agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf).select("fp")
      val keep = fps.join(bounded, "fp")
      val per = fps.groupBy("id").agg(count(lit(1)).as("n"))
      keep.select(col("id").as("a"), col("fp"))
        .join(keep.select(col("id").as("b"), col("fp")), "fp")
        .filter(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= minShared)
        .join(per.select(col("id").as("a"), col("n").as("n_a")), "a")
        .join(per.select(col("id").as("b"), col("n").as("n_b")), "b")
        .select(col("a").as("doc_a"), col("b").as("doc_b"),
          col("n_shared"), col("n_a"), col("n_b"),
          expr("(n_shared * 2000000 + least(n_a, n_b)) div (2 * least(n_a, n_b))")
            .as("overlap_ppm"))
        .localCheckpoint(true) // consumed after the finally-unpersist
    } finally { fps.unpersist(); () }
  }
}
