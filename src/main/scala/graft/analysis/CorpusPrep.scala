package graft.analysis

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, StringType}

import graft.core.Fanout

/** End-to-end training-corpus preparation: the composed pipeline the
  * individual operators exist for —
  *
  *   quality filter → exact dedup → near-dup removal (MinHash+LSH, greedy
  *   keep-lowest-id) → surviving corpus
  *
  * Physical shape: the quality filter is one codegen'd projection; exact
  * dedup is one hash-partition window; near-dup candidates come from the
  * banded LSH self-join over the ALREADY-reduced corpus (each stage shrinks
  * the data the next stage pays for — the order is the optimization).
  * Removal keeps the lower doc id of each verified pair (greedy transitive
  * approximation — exact clustering would need connected components, which
  * at corpus scale is a separate iterative job).
  */
object CorpusPrep {

  final case class Thresholds(minQuality: Double = 35.0, minJaccard: Double = 0.8)

  def prepareCorpus(
      docs: DataFrame,
      t: Thresholds = Thresholds(),
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val qualityPass = docs.join(
      TextAnalysis.textStats(docs, textCol, idCol)
        .filter(col("quality_score") >= t.minQuality)
        .select(idCol),
      Seq(idCol))
    val exact = Dedup.dedupExact(qualityPass, textCol, idCol)
    val losers = Dedup.minhashNearDupPairs(exact, textCol, idCol, minJaccard = t.minJaccard)
      .select(col("doc_b").as(idCol)).distinct()
    exact.join(losers, Seq(idCol), "left_anti")
  }

  /** One batch run's complete artifact set, computed in ONE pass over the
    * quality+exact stages: (surviving corpus, exact-set sketch, exact-set
    * fingerprints) — exactly what [[prepareCorpusIncrement]] consumes on the
    * next ingest. The exact-dedup set is materialized once (eager
    * localCheckpoint — at corpus scale this is the parquet write the daily
    * job performs anyway) and all three artifacts derive from it, instead
    * of re-running quality scoring and the dedup window per artifact.
    *
    * The sketch covers the exact set INCLUDING near-dup losers: tomorrow's
    * copy of a removed duplicate still has to match something, or it sneaks
    * into the corpus the batch rebuild would have caught. */
  def batchArtifacts(
      docs: DataFrame,
      t: Thresholds = Thresholds(),
      textCol: String = "text",
      idCol: String = "doc_id"): (DataFrame, DataFrame, DataFrame) = {
    val qualityPass = docs.join(
      TextAnalysis.textStats(docs, textCol, idCol)
        .filter(col("quality_score") >= t.minQuality)
        .select(idCol),
      Seq(idCol))
    val exact = Dedup.dedupExact(qualityPass, textCol, idCol).localCheckpoint(true)
    // sketch ONCE: the materialized sketch is both the stored artifact AND
    // today's pair feed (nearDupPairsFromSketch — identical pair set to
    // minhashNearDupPairs on the sketched docs, same shingle/signature
    // expressions). The old shape ran the shingle+signature projection
    // over the whole exact set twice — once inside minhashNearDupPairs,
    // once for the stored sketch (the r14 pretrainArtifacts fix, applied
    // here; guide §5 reuse).
    val sketch = Dedup.sketchDocs(exact, textCol, idCol).localCheckpoint(true)
    val losers = Dedup
      .nearDupPairsFromSketch(sketch, minJaccard = t.minJaccard)
      .select(col("doc_b").as(idCol)).distinct()
    val corpus = exact.join(losers, Seq(idCol), "left_anti")
    val fingerprints = exact
      .select(TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))
      .distinct()
    (corpus, sketch, fingerprints)
  }

  /** Incremental [[prepareCorpus]] — the composition a production pipeline
    * runs on every ingest. Yesterday's batch run left three artifacts
    * ([[batchArtifacts]]): the surviving `corpus`, the exact-set sketch, and
    * the exact-set fingerprints. Today only the NEW batch is scored, sketched,
    * and joined — cost scales with |batch| (× bucket collision rate for the
    * cross near-dup join), never with corpus size.
    *
    * LAW (the q118 oracle): provided every new id exceeds every corpus id
    * (monotonic ingest ids — what gives "first occurrence wins" a stable
    * meaning across days), the result EQUALS the batch rebuild
    * `prepareCorpus(old ∪ new)`. Stage by stage: quality is per-doc; exact
    * keeps the min id per fingerprint, and new ids are all higher, so
    * "drop new docs whose fingerprint is already known" is exactly the
    * union window's verdict; LSH buckets are per-doc deterministic, so the
    * union's pair set splits cleanly into old–old (settled yesterday),
    * old–new (old id is always doc_a, so the new doc is always the loser —
    * the cross join against the sketch), and new–new (the batch pair join).
    * Output: corpus ∪ surviving new docs, original columns. */
  def prepareCorpusIncrement(
      corpus: DataFrame,
      exactSketch: DataFrame,
      exactFingerprints: DataFrame,
      newDocs: DataFrame,
      t: Thresholds = Thresholds(),
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val newQuality = newDocs.join(
      TextAnalysis.textStats(newDocs, textCol, idCol)
        .filter(col("quality_score") >= t.minQuality)
        .select(idCol),
      Seq(idCol))
    // anti-join on fingerprint: the corpus-sized side shuffles once per
    // ingest — or never, if the fingerprint artifact is written bucketed on
    // fingerprint (same trick as Bucketing; the batch side is tiny either way).
    // newExact is batch-sized and consumed three times (both pair generators
    // + the final anti-join) — materialize it once
    val newExact = Dedup.dedupExact(newQuality, textCol, idCol)
      .withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .join(exactFingerprints.withColumnRenamed("fingerprint", "__fp"),
        Seq("__fp"), "left_anti")
      .drop("__fp")
      .localCheckpoint(true)
    val newNewLosers = Dedup
      .minhashNearDupPairs(newExact, textCol, idCol, minJaccard = t.minJaccard)
      .select(col("doc_b").as(idCol)).distinct()
    val crossLosers = Dedup
      .incrementalNearDupPairsAgainstSketch(
        newExact, exactSketch, textCol, idCol, minJaccard = t.minJaccard)
      .select(col("new_id").as(idCol)).distinct()
    val newSurvivors = newExact
      .join(newNewLosers.union(crossLosers).distinct(), Seq(idCol), "left_anti")
    corpus.unionByName(newSurvivors)
  }

  /** THE FULL PRETRAINING-PIPELINE CAPSTONE — the FineWeb/Dolma-shaped
    * end-to-end job this library exists for, SIX stages composed into one
    * dataflow:
    *
    *   1. quality gate        (q20's score, keep ≥ minQuality)
    *   2. exact dedup         (min-id per normalized fingerprint, q30)
    *   3. near-dup clusters with the QUALITY-KEEPER policy (q282's
    *      FineWeb survivor rule — clusters keep the best member, not the
    *      min id)
    *   4. winnowing decontamination against the held-out eval slice
    *      (q250's no-leakage certificate: any ≥ k+w−1-token overlap is
    *      GUARANTEED flagged; eval docs themselves are held out too)
    *   5. temperature mixture (q140's α-smoothing keep rates, the
    *      replayable md5 gate)
    *   6. sequence packing    (q256's concat-and-chunk windows)
    *
    * Composition seams are where real pipelines break, so the ORDER is
    * load-bearing: quality runs first (it is one codegen'd projection and
    * every later stage pays per surviving row); exact dedup precedes the
    * near-dup sketch (why MinHash a byte-identical copy); the keeper
    * argmax REUSES the stage-1 quality scores (computed once, centi-
    * quantized for an engine-invariant argmax); decontamination screens
    * only final survivors against the eval artifact (broadcast probe);
    * the mixture rates are computed over the CLEAN corpus (rates over a
    * corpus still carrying duplicates would overweight duplicated
    * sources); packing consumes the kept stream in id order.
    *
    * Scale shape: each stage shrinks what the next one pays for; the
    * three `localCheckpoint` materializations (exact set, train
    * candidates, clean corpus) are exactly the parquet layer boundaries
    * the daily job writes anyway. No stage introduces a shuffle beyond
    * its standalone twin's; the eval fingerprint artifact and the
    * source→rate map broadcast.
    *
    * Output: [[sequencePack]]'s window-occupancy histogram over the final
    * training stream — all exact integers. The q283 gate pins the whole
    * composition against one DuckDB statement built from the SAME shared
    * CTE constants as the stage gates (q269/q282/q250/q140/q256), and
    * PipelineSpec pins composition ≡ stage-by-stage dataflow. */
  def pretrainPipeline(
      docs: DataFrame,
      t: Thresholds = Thresholds(),
      evalMod: Int = 17,
      alpha: Double = 0.5,
      ctxTokens: Int = 256,
      textCol: String = "text",
      idCol: String = "doc_id",
      sourceCol: String = "source"): DataFrame =
    sequencePack(
      temperatureKeep(pretrainClean(docs, t, evalMod, textCol, idCol),
        alpha, sourceCol, idCol),
      ctxTokens, textCol, idCol)

  /** Stages 1–4 of [[pretrainPipeline]] — the CLEAN training corpus
    * (quality gate → exact dedup → keeper-policy near-dup clusters →
    * winnowing decontamination + eval holdout), before mixture and
    * packing. Exposed so the margin spec can measure the mixture stage's
    * basis-point boundaries over exactly this frame. */
  def pretrainClean(
      docs: DataFrame,
      t: Thresholds = Thresholds(),
      evalMod: Int = 17,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    pretrainStages(docs, t, evalMod, textCol, idCol).clean

  /** The capstone chain's stage frames — ONE definition of the quality →
    * exact → keeper → holdout → decontam dataflow, consumed by
    * [[pretrainClean]] (the pipeline) and [[pretrainFunnel]] (the report),
    * so a threshold change can never de-synchronize the funnel from the
    * pipeline it reports on. */
  private[analysis] final case class PretrainStages(
      scored: DataFrame,
      qualityPass: DataFrame,
      exact: DataFrame,
      survivors: DataFrame,
      trainCand: DataFrame,
      clean: DataFrame)

  /** Quality stats computed ONCE — physically: the per-doc (id, score,
    * centi) frame is eagerly checkpointed, so the textStats projection
    * scans the corpus a single time even though two stages (the quality
    * gate and the keeper argmax) consume it. Aggregate-per-doc-sized:
    * three columns, no text. */
  private def pretrainScored(
      docs: DataFrame, textCol: String, idCol: String): DataFrame =
    TextAnalysis.textStats(docs, textCol, idCol)
      .select(col(idCol), col("quality_score"),
        floor(col("quality_score") * 100 + 0.5).cast("long").as("quality_centi"))
      .localCheckpoint(true)

  /** See [[PretrainStages]]. `materializeSurvivors` checkpoints the
    * keeper-survivor frame — the funnel reads it twice (its own stage row
    * + everything downstream); the pipeline reads it once and skips the
    * materialization. */
  private[analysis] def pretrainStages(
      docs: DataFrame,
      t: Thresholds = Thresholds(),
      evalMod: Int = 17,
      textCol: String = "text",
      idCol: String = "doc_id",
      materializeSurvivors: Boolean = false): PretrainStages = {
    require(evalMod >= 2, s"need evalMod >= 2, got $evalMod")
    val stats = pretrainScored(docs, textCol, idCol)
    val scored = stats.select(col(idCol), col("quality_centi"))
    val qualityPass = docs.join(
      stats.filter(col("quality_score") >= t.minQuality).select(idCol), Seq(idCol))
    val exact = Dedup.dedupExact(qualityPass, textCol, idCol).localCheckpoint(true)
    val keepers = Dedup.dedupClustersKeepBest(
        Dedup.minhashNearDupPairs(exact, textCol, idCol, minJaccard = t.minJaccard),
        scored.join(exact.select(idCol), Seq(idCol)), idCol = idCol,
        pairsWithinScored = true)
      .filter(col("is_keeper")).select(idCol)
    val survivors0 = exact.join(keepers, Seq(idCol))
    val survivors =
      if (materializeSurvivors) survivors0.localCheckpoint(true) else survivors0
    val trainCand = survivors.filter(col(idCol) % evalMod =!= 0)
      .localCheckpoint(true)
    val contaminated = Dedup.winnowingDecontam(
        trainCand, docs.filter(col(idCol) % evalMod === 0),
        textCol = textCol, idCol = idCol)
      .select(idCol)
    val clean = trainCand.join(contaminated, Seq(idCol), "left_anti")
      .localCheckpoint(true)
    PretrainStages(scored, qualityPass, exact, survivors, trainCand, clean)
  }

  /** The capstone's FUNNEL report — documents and whitespace tokens
    * surviving each stage boundary of [[pretrainPipeline]], the run
    * report a data team reads after every ingest (what did quality cost,
    * what did dedup reclaim, how much did decontamination cut, what does
    * the mixture keep). Stages: ingest → quality → exact → keeper →
    * holdout → decontam → mixture. Token counts use [[sequencePack]]'s
    * count (empty-filtered whitespace tokens) at every stage so the
    * mixture row's n_tokens IS the packed stream's length.
    *
    * Scale shape: the same chain as the pipeline (checkpointed at the
    * same layer boundaries), plus seven count/sum aggregates — each one
    * map-side-combinable scan of a frame the pipeline materializes
    * anyway. All exact integers. Output: stage_idx, stage, n_docs,
    * n_tokens. */
  def pretrainFunnel(
      docs: DataFrame,
      t: Thresholds = Thresholds(),
      evalMod: Int = 17,
      alpha: Double = 0.5,
      textCol: String = "text",
      idCol: String = "doc_id",
      sourceCol: String = "source"): DataFrame = {
    val st = pretrainStages(docs, t, evalMod, textCol, idCol,
      materializeSurvivors = true)
    val kept = temperatureKeep(st.clean, alpha, sourceCol, idCol)
    val nTok = coalesce(
      size(array_remove(TextAnalysis.tokens(col(textCol)), "")), lit(0))
      .cast("long")
    def stage(idx: Int, name: String, d: DataFrame): DataFrame =
      d.select(nTok.as("n_tok"))
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum("n_tok"), lit(0L)).as("n_tokens"))
        .select(lit(idx.toLong).as("stage_idx"), lit(name).as("stage"),
          col("n_docs"), col("n_tokens"))
    stage(0, "ingest", docs)
      .unionByName(stage(1, "quality", st.qualityPass))
      .unionByName(stage(2, "exact", st.exact))
      .unionByName(stage(3, "keeper", st.survivors))
      .unionByName(stage(4, "holdout", st.trainCand))
      .unionByName(stage(5, "decontam", st.clean))
      .unionByName(stage(6, "mixture", kept))
      .orderBy("stage_idx")
  }

  /** FUNNEL-OVER-INGESTS time series — the operational artifact a data
    * team actually watches ("did decontamination cost spike this week?"):
    * for each ingest, the [[pretrainFunnel]] of the corpus AS OF that
    * ingest, keyed by the ingest's batch id. Stage deltas between
    * consecutive batch ids isolate what each ingest added and what each
    * stage took from it. One funnel run per ingest, one union — exactly
    * the rows a daily job appends to its funnel history table.
    * Output: batch_id, stage_idx, stage, n_docs, n_tokens. */
  def pretrainFunnelSeries(
      batches: Seq[(Long, DataFrame)],
      t: Thresholds = Thresholds(),
      evalMod: Int = 17,
      alpha: Double = 0.5,
      textCol: String = "text",
      idCol: String = "doc_id",
      sourceCol: String = "source"): DataFrame = {
    require(batches.nonEmpty, "need at least one ingest batch")
    require(batches.map(_._1).sliding(2).forall(w => w.length < 2 || w(0) < w(1)),
      s"ingest batch ids must be strictly increasing, got ${batches.map(_._1)}")
    // arms are independent as-of runs (they union, never join): build them
    // CONCURRENTLY so each arm's stage checkpoints back-fill the idle tail
    // of the others' jobs (guide §2.6); results are per-arm deterministic,
    // so ordering cannot matter. A failing arm cancels the others
    // ([[graft.core.Fanout]]), so no orphan arm keeps submitting jobs after
    // the caller unwound (r14 ADVICE).
    val spark = batches.head._2.sparkSession
    val arms = Fanout.all(spark, batches.zipWithIndex.map { case ((id, _), i) => () =>
      val asOf = batches.take(i + 1).map(_._2).reduce(_ unionByName _)
      pretrainFunnel(asOf, t, evalMod, alpha, textCol, idCol, sourceCol)
        .select(lit(id).as("batch_id"), col("stage_idx"), col("stage"),
          col("n_docs"), col("n_tokens"))
    })
    arms.reduce(_ unionByName _).orderBy("batch_id", "stage_idx")
  }

  /** One batch run's COMPLETE artifact set for [[pretrainPipelineIncrement]]
    * — every frame a materialized layer the daily job writes anyway:
    * the post-quality post-exact corpus, its text fingerprints (known-dup
    * anti-join), its minhash sketch (cross band join), its verified
    * near-dup pairs (settled once, never re-sketched), its quality
    * centi-scores (the keeper argmax input), its per-doc winnowing
    * fingerprints (union-mergeable, the q249 law), and the eval slice's
    * winnowing fingerprints. */
  final case class PretrainArtifacts(
      exactDocs: DataFrame,
      fingerprints: DataFrame,
      sketch: DataFrame,
      pairs: DataFrame,
      scored: DataFrame,
      winnowFps: DataFrame,
      evalFps: DataFrame)

  /** Build [[PretrainArtifacts]] from a corpus — what yesterday's batch
    * run materializes. One quality pass, one exact-dedup window, one
    * sketch (localCheckpoint: consumed by the pair join today AND stored
    * for tomorrow's cross join), one pair join, one winnowing pass. */
  def pretrainArtifacts(
      docs: DataFrame,
      t: Thresholds = Thresholds(),
      evalMod: Int = 17,
      textCol: String = "text",
      idCol: String = "doc_id"): PretrainArtifacts = {
    require(evalMod >= 2, s"need evalMod >= 2, got $evalMod")
    val stats = pretrainScored(docs, textCol, idCol)
    val scored = stats.select(col(idCol), col("quality_centi"))
    val qualityPass = docs.join(
      stats.filter(col("quality_score") >= t.minQuality).select(idCol), Seq(idCol))
    val exact = Dedup.dedupExact(qualityPass, textCol, idCol).localCheckpoint(true)
    val sketch = Dedup.sketchDocs(exact, textCol, idCol).localCheckpoint(true)
    PretrainArtifacts(
      exactDocs = exact,
      fingerprints = exact
        .select(TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))
        .distinct(),
      sketch = sketch,
      // the pair set derives from the STORED sketch (band self-join +
      // verify) — the signature projection is paid once, not re-sketched
      // inside minhashNearDupPairs a line after it was materialized
      pairs = Dedup.nearDupPairsFromSketch(sketch, minJaccard = t.minJaccard)
        .select("doc_a", "doc_b"),
      scored = scored.join(exact.select(idCol), Seq(idCol)),
      winnowFps = Dedup.winnowingFingerprints(exact, textCol = textCol,
        idCol = idCol),
      evalFps = Dedup.winnowingFingerprints(
        docs.filter(col(idCol) % evalMod === 0), textCol = textCol,
        idCol = idCol))
  }

  /** INCREMENTAL [[pretrainPipeline]] — the shape the daily job actually
    * runs. Only the NEW batch is scored, deduped, sketched, and
    * fingerprinted (cost ∝ |batch| for every text-touching stage); the
    * corpus-global readouts that CANNOT be incremental by construction —
    * the keeper argmax (a batch member can flip a stored cluster's
    * keeper), the mixture rates (per-source shares move with every
    * ingest), and the packing offsets (concat order is global) — are
    * recomputed from the merged ARTIFACTS, never from old text: the
    * keeper pass reads pairs+scores, decontamination probes stored
    * per-doc fingerprints, and mixture/packing scan id/source/token
    * metadata of survivors.
    *
    * LAW (the q287 gate, oracle IS q283's SQL): under monotonic ingest
    * ids (every batch id exceeds every stored id — the q118/q285
    * precondition), this equals `pretrainPipeline(old ∪ new)` exactly.
    * Stage by stage: quality is per-doc; exact dedup's union window ≡
    * within-batch dedup + known-fingerprint anti-join (q118); the pair
    * set splits old–old (stored) / old–new (cross band join, old id
    * always doc_a) / new–new (q285); keeper verdicts are a pure function
    * of (pairs, scores); winnowing fingerprints are per-doc (q249's
    * union law) and the df bound recomputes over the CURRENT train-
    * candidate set on both paths; the mixture gate is a pure function of
    * (doc_id, per-source counts of the clean corpus); packing of the
    * kept stream is order-defined by id. */
  def pretrainPipelineIncrement(
      a: PretrainArtifacts,
      newDocs: DataFrame,
      t: Thresholds = Thresholds(),
      evalMod: Int = 17,
      alpha: Double = 0.5,
      ctxTokens: Int = 256,
      textCol: String = "text",
      idCol: String = "doc_id",
      sourceCol: String = "source"): DataFrame =
    pretrainIncrementWithArtifacts(a, newDocs, t, evalMod, alpha, ctxTokens,
      textCol, idCol, sourceCol)._1

  /** [[pretrainPipelineIncrement]] PLUS the batch's artifact DELTAS — what
    * the daily job stores: every field of the returned [[PretrainArtifacts]]
    * holds ONLY the rows this batch added (batch-sized), and the artifact
    * sets merge by plain union — stored ∪ deltas ≡ [[pretrainArtifacts]] of
    * the cumulative corpus (exact-set membership by the q118 min-id law,
    * pairs by the q285 three-way split, winnowing fingerprints by the q249
    * per-doc union law, sketches/scores per-doc deterministic). The batch is
    * sketched ONCE (the checkpointed `newSketch` feeds the within-batch
    * pair join, the cross join against the stored sketch, and the stored
    * delta). */
  def pretrainIncrementWithArtifacts(
      a: PretrainArtifacts,
      newDocs: DataFrame,
      t: Thresholds = Thresholds(),
      evalMod: Int = 17,
      alpha: Double = 0.5,
      ctxTokens: Int = 256,
      textCol: String = "text",
      idCol: String = "doc_id",
      sourceCol: String = "source"): (DataFrame, PretrainArtifacts) = {
    require(evalMod >= 2, s"need evalMod >= 2, got $evalMod")
    val spark = newDocs.sparkSession
    // the increment LAW's precondition (monotonic ingest ids: every batch
    // id exceeds every stored id) fails LOUDLY instead of silently
    // diverging from the q283 rebuild (a violating batch would flip the
    // exact-dedup survivor and invert cross-pair orientation). Cost: one
    // aggregate over the stored id column + one over the batch — id-only
    // scans, nothing text-sized. The guard job and the batch quality scan
    // are independent, so they run CONCURRENTLY (guide §2.6) instead of as
    // two sequential job latencies.
    val stats = Fanout.all(spark, Seq[() => DataFrame](
      () => {
        val bound = a.scored.agg(max(col(idCol)).as("mx"))
          .crossJoin(newDocs.agg(min(col(idCol)).as("mn")))
          .filter(col("mx").isNotNull && col("mn").isNotNull &&
            col("mx") >= col("mn"))
        require(bound.isEmpty,
          "pretrainPipelineIncrement requires monotonic ingest ids: " +
            s"max stored $idCol must be < min batch $idCol")
        null
      },
      () => pretrainScored(newDocs, textCol, idCol))).last
    val newScored = stats.select(col(idCol), col("quality_centi"))
    val newQuality = newDocs.join(
      stats.filter(col("quality_score") >= t.minQuality).select(idCol), Seq(idCol))
    // within-batch exact dedup + the known-fingerprint anti-join (q118)
    val newExact = Dedup.dedupExact(newQuality, textCol, idCol)
      .withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .join(a.fingerprints.withColumnRenamed("fingerprint", "__fp"),
        Seq("__fp"), "left_anti")
      .drop("__fp")
      .localCheckpoint(true)
    val newSketch = Dedup.sketchDocs(newExact, textCol, idCol)
      .localCheckpoint(true)
    // the batch's winnowing fingerprints (train + eval side, per-doc, q249's
    // union law) depend only on newExact/newDocs — materialize them on side
    // threads while the pair generation + keeper chain runs its own jobs
    // (guide §2.6): the decontam stage later probes already-built artifacts
    // instead of paying both fingerprint scans inside its own sequential
    // job.
    var newPairs, newScoredExact: DataFrame = null
    val Seq(newWinnowFps, newEvalFps, trainCand) = Fanout.all(spark, Seq(
      () => Dedup.winnowingFingerprints(newExact, textCol = textCol, idCol = idCol)
        .localCheckpoint(true),
      () => Dedup.winnowingFingerprints(newDocs.filter(col(idCol) % evalMod === 0),
        textCol = textCol, idCol = idCol).localCheckpoint(true),
      () => {
        val crossPairs = Dedup
          .crossNearDupPairsFromSketches(newSketch, a.sketch,
            minJaccard = t.minJaccard)
          .select(col("existing_id").as("doc_a"), col("new_id").as("doc_b"))
        newPairs = Dedup
          .nearDupPairsFromSketch(newSketch, minJaccard = t.minJaccard)
          .select("doc_a", "doc_b")
          .unionByName(crossPairs)
        newScoredExact = newScored.join(newExact.select(idCol), Seq(idCol))
        val keepers = Dedup.dedupClustersKeepBest(a.pairs.unionByName(newPairs),
            a.scored.unionByName(newScoredExact), idCol = idCol,
            pairsWithinScored = true)
          .filter(col("is_keeper")).select(idCol)
        a.exactDocs.unionByName(newExact).join(keepers, Seq(idCol))
          .filter(col(idCol) % evalMod =!= 0).localCheckpoint(true)
      }))
    val trainFps = a.winnowFps
      .unionByName(newWinnowFps)
      .join(trainCand.select(idCol), Seq(idCol))
    val evalFps = a.evalFps.unionByName(newEvalFps)
    val contaminated = Dedup
      .winnowingDecontamFromFingerprints(trainFps, evalFps, idCol = idCol)
      .select(idCol)
    val clean = trainCand.join(contaminated, Seq(idCol), "left_anti")
      .localCheckpoint(true)
    val packed = sequencePack(temperatureKeep(clean, alpha, sourceCol, idCol),
      ctxTokens, textCol, idCol)
    val deltas = PretrainArtifacts(
      exactDocs = newExact,
      fingerprints = newExact
        .select(TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))
        .distinct(),
      sketch = newSketch,
      pairs = newPairs,
      scored = newScoredExact,
      winnowFps = newWinnowFps,
      evalFps = newEvalFps)
    (packed, deltas)
  }

  /** On-disk layout of the artifact LAYER: `root/<kind>/v=<version>/`
    * parquet DELTAS, one version directory per ingest (version = the
    * batch/ingest id). Each write lands only batch-sized deltas; reads
    * union every version STRICTLY BELOW a bound (partition-pruned on the
    * `v` directory column), so a crashed-and-replayed ingest that already
    * wrote its own version still reads exactly the pre-batch state, and
    * re-overwriting `v=<id>` is idempotent — the replay contract
    * [[graft.streaming.PretrainStreamJob]] builds on. */
  private val artifactKinds: Seq[String] = Seq(
    "exact", "fingerprints", "sketch", "pairs", "scored",
    "winnow_fps", "eval_fps")

  private def kindFrames(a: PretrainArtifacts): Seq[(String, DataFrame)] =
    artifactKinds.zip(Seq(a.exactDocs, a.fingerprints, a.sketch, a.pairs,
      a.scored, a.winnowFps, a.evalFps))

  /** Write an artifact (delta) set as version `version` of the layer.
    * The seven kinds are independent jobs against disjoint paths, so they
    * write CONCURRENTLY ([[graft.core.Fanout]]): each kind's straggler tail
    * back-fills with the other kinds' tasks instead of leaving the cluster
    * idle (guide §2.6). Kind-by-kind writes cost seven fixed job latencies
    * on the r14 gate; all seven in flight collapse them into one
    * scheduling wave (A/B in OPTIMIZATION_r15.md).
    *
    * File sizing (guide §6 — the small-file spiral the compactor exists
    * to fight): by default each frame takes a REBALANCE hint so AQE sizes
    * the output files adaptively (one file for a gate-sized delta,
    * ~advisory-sized files for a production batch) instead of emitting
    * one file per upstream partition. `targetFiles = Some(n)` switches to
    * an explicit `repartition(n)` — REQUIRED on the streaming path
    * ([[graft.streaming.PretrainStreamJob]]): inside a foreachBatch the
    * micro-batch plan runs without AQE, so the rebalance hint is inert
    * there and stream-written deltas would land one-file-per-partition
    * (round-14 verdict #5). Micro-batch deltas are trigger-sized, so the
    * explicit exchange moves batch-sized bytes only. */
  def writeArtifacts(
      a: PretrainArtifacts,
      root: String,
      version: Long,
      targetFiles: Option[Int] = None): Unit =
    Fanout.all(a.exactDocs.sparkSession, kindFrames(a).map { case (kind, df) => () =>
      targetFiles.fold(df.hint("rebalance"))(df.repartition)
        .write.mode(SaveMode.Overwrite).parquet(s"$root/$kind/v=$version")
    })

  /** Read the layer state as of (exclusive) `maxVersionExclusive` — ONE
    * partition-pruned scan per kind over the `v` directory column (never
    * per-version unions). The seven reader constructions (driver-side
    * file listing + footer schema reads) are independent and run
    * concurrently — sequential construction was ~0.4 s of pure driver
    * latency per read-back on the r15 gate. */
  def readArtifacts(
      spark: org.apache.spark.sql.SparkSession,
      root: String,
      maxVersionExclusive: Long): PretrainArtifacts = {
    val Seq(exact, fingerprints, sketch, pairs, scored, winnowFps, evalFps) =
      Fanout.all(spark, artifactKinds.map(kind => () =>
        spark.read.parquet(s"$root/$kind")
          .filter(col("v") < maxVersionExclusive).drop("v")))
    PretrainArtifacts(exact, fingerprints, sketch, pairs, scored, winnowFps, evalFps)
  }

  /** Fold every layer version `<= upToInclusive` of EVERY artifact kind
    * into one base directory per kind (at the highest folded version) —
    * the retention job a daily [[graft.streaming.PretrainStreamJob]]
    * schedules so a year of ingests does not leave ~365 delta dirs per
    * kind under every read ([[graft.sinks.DeltaLayerCompactor]]; the
    * reference's curated-layer compaction shape,
    * streaming_to_curated_stream.py:186-216). In-retention reads are
    * unchanged: [[readArtifacts]] with any bound > the max folded version
    * returns row-identical state before and after; bounds at or below it
    * are out of retention by design, so pick `upToInclusive` below the
    * oldest replay bound still served (the stream's committed watermark).
    * Per-kind folds are individually crash-safe (rename-chain + recover);
    * a crash between kinds leaves a mixed layer that still satisfies the
    * read invariant. */
  def compactArtifacts(
      spark: org.apache.spark.sql.SparkSession,
      root: String,
      upToInclusive: Long,
      targetFiles: Int = 1): Unit =
    // per-kind folds are independent (disjoint paths, individually
    // crash-safe) — run them concurrently, same rationale as
    // [[writeArtifacts]]; the cross-kind non-atomicity documented above
    // is unchanged by ordering
    Fanout.all(spark, artifactKinds.map(kind => () =>
      graft.sinks.DeltaLayerCompactor.compactKind(
        spark, s"$root/$kind", upToInclusive, targetFiles)))

  /** Run [[graft.sinks.DeltaLayerCompactor.recoverKind]] over every kind —
    * the job-start repair call after a crash mid-[[compactArtifacts]]. */
  def recoverArtifactLayer(
      spark: org.apache.spark.sql.SparkSession, root: String): Unit =
    Fanout.all(spark, artifactKinds.map(kind => () =>
      graft.sinks.DeltaLayerCompactor.recoverKind(spark, s"$root/$kind")))

  /** Length-bucketed batch packing: assign documents to fixed-size training
    * batches in token-length order, so sequences in a batch have similar
    * lengths and padding-to-max waste stays low — the standard "sorted
    * batching" trick every LLM data loader runs. Reports per-batch packing
    * stats; `padding_frac` is the fraction of the batch's token buffer
    * (n_docs × max_tokens) that padding would waste.
    *
    * Scale shape: one global sort on token count (a range exchange — the
    * same shape as any ORDER BY), one ranking window over it (reuses the
    * range partitioning), one aggregate on batch id. Deterministic
    * tie-break on the id keeps batch assignment reproducible across runs
    * and engines. Output: batch_id, n_docs, max_tokens, total_tokens,
    * padding_frac. */
  def lengthBucketedBatches(
      docs: DataFrame,
      batchSize: Int = 16,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    // Global ranking WITHOUT a single-partition window (`Window.orderBy`
    // with no partition moves the whole corpus to one task): range-partition
    // on the sort key, materialize once so partition identity is stable,
    // count rows per partition (a #partitions-row frame — the one bounded
    // driver-side step), and add each partition's cumulative offset to its
    // local row numbers. This is the standard distributed ORDER BY + rank.
    val parts = spark.sparkContext.defaultParallelism
    // null text → null tokens → null size; symbol-only text normalizes to ""
    // whose split is [""] — array_remove + coalesce make both count 0
    val ranged = docs
      .select(col(idCol),
        coalesce(size(array_remove(TextAnalysis.tokens(col(textCol)), "")), lit(0))
          .as("n_tok"))
      // tokenize ONCE: the range exchange's boundary-sampling pass would
      // otherwise re-run the tokenize-and-count projection over the whole
      // corpus a second time (guide §2.4); the checkpoint holds two longs
      // per row
      .localCheckpoint(true)
      .repartitionByRange(parts, col("n_tok").desc, col(idCol))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint(true)
    val offsets = ranged.groupBy("pid").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getAs[Int]("pid"), r.getAs[Long]("n")))
      .sortBy(_._1)
      .scanLeft((0, 0L)) { case ((_, cum), (pid, n)) => (pid, cum + n) }
      .sliding(2).collect { case Array((_, cum), (pid, _)) => (pid, cum) }.toSeq
    val offsetDf = spark.createDataFrame(offsets).toDF("pid", "offset")
    val local = Window.partitionBy("pid").orderBy(col("n_tok").desc, col(idCol))
    ranged
      .join(broadcast(offsetDf), "pid")
      .withColumn("rank", col("offset") + row_number().over(local))
      .withColumn("batch_id", floor((col("rank") - 1) / batchSize).cast("int"))
      .groupBy("batch_id")
      .agg(count(lit(1)).as("n_docs"), max("n_tok").as("max_tokens"),
        sum("n_tok").as("total_tokens"))
      // a tail batch of all-empty docs has max_tokens 0: nothing to pad
      .withColumn("padding_frac",
        when(col("max_tokens") > 0,
          round(lit(1.0) - col("total_tokens").cast("double") /
            (col("n_docs") * col("max_tokens")).cast("double"), 4))
          .otherwise(lit(0.0)))
  }

  /** Passage chunking — the RAG/pretraining windowing step: split each
    * document into fixed-size token windows with overlap (stride <
    * window), so no boundary-spanning fact is lost to a hard cut. One
    * generator per document (rows grow by ⌈n/stride⌉), the slice and
    * reassembly are codegen'd array ops, no shuffle at all — the operator
    * composes with downstream dedup/embedding exactly like any projection.
    * Output: idCol, passage_idx (0-based window ordinal), n_tokens,
    * passage (space-joined window). Empty docs produce no passages. */
  def chunkPassages(
      docs: DataFrame,
      windowTokens: Int = 64,
      strideTokens: Int = 48,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(windowTokens > 0 && strideTokens > 0 && strideTokens <= windowTokens,
      s"need 0 < stride <= window, got stride=$strideTokens window=$windowTokens")
    docs
      .select(col(idCol),
        array_remove(TextAnalysis.tokens(col(textCol)), "").as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col(idCol), col("toks"),
        explode(sequence(lit(0), size(col("toks")) - 1, lit(strideTokens)))
          .as("start"))
      .select(col(idCol),
        (col("start") / strideTokens).cast("int").as("passage_idx"),
        size(slice(col("toks"), col("start") + 1, lit(windowTokens))).as("n_tokens"),
        concat_ws(" ", slice(col("toks"), col("start") + 1, lit(windowTokens))).as("passage"))
  }

  /** Data-mixing weights: per-source token mass vs a UNIFORM target mixture
    * — the rebalancing step a multi-source training run applies so one
    * giant crawl doesn't drown the curated sources. weight_s multiplies a
    * source's sampling rate to hit the target: weight = target_share /
    * current_share = total / (n_sources · tokens_s).
    *
    * Scale shape: one grouped aggregate to source granularity (the corpus
    * never moves again), a broadcast 1-row totals frame, and a projection —
    * output is bounded by the source count. Division guarded for an
    * all-empty source (weight null, not an ANSI divide-by-zero).
    * Output: source, n_docs, n_tokens, share (round 6), weight (round 6). */
  def sourceMixtureWeights(
      docs: DataFrame,
      sourceCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val perSource = docs
      .select(col(sourceCol).as("source"),
        coalesce(size(array_remove(TextAnalysis.tokens(col(textCol)), "")), lit(0))
          .as("n_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
    val totals = perSource.agg(sum("n_tokens").as("total"), count(lit(1)).as("n_sources"))
    perSource.crossJoin(broadcast(totals))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("total").cast("double"), 6).as("share"),
        when(col("n_tokens") > 0,
          round(col("total").cast("double") /
            (col("n_sources").cast("double") * col("n_tokens").cast("double")), 6))
          .as("weight"))
  }

  /** Temperature-based source resampling — the α-smoothing rule
    * multilingual/multi-source pretraining uses (XLM / mT5 style): target
    * mixture q_s ∝ n_s^α flattens the source distribution (α=1 keeps it,
    * α=0 is uniform), and each source keeps docs at rate
    * min(1, q_s·N/n_s) so the materialized corpus approaches the target
    * mixture by DOWN-sampling dominant sources only (no duplication).
    * Selection is the replayable md5 gate of [[Sampling.hashBucket]] with
    * rates quantized to basis points — the kept SET is a pure function of
    * (doc_id, rates), stable across runs, engines, and cluster sizes.
    *
    * Scale shape: one grouped count to source granularity, a broadcast
    * source→rate map (sources are few by definition), and one codegen'd
    * filter pass for the kept count — the corpus shuffles zero times. The
    * n_s^α terms are DECIMAL-cast before the cross-source sum so the
    * normalizer is reorder-proof.
    * Output (one row per source): source, n_docs, share (target mixture,
    * round 6), rate_bp (keep rate in basis points), n_kept. */
  def temperatureResample(
      docs: DataFrame,
      alpha: Double = 0.5,
      sourceCol: String = "source",
      idCol: String = "doc_id"): DataFrame = {
    val rates = temperatureRates(docs, alpha, sourceCol)
    val kept = keepWithRates(docs, rates, sourceCol, idCol)
      .groupBy(col(sourceCol).as("__ksrc")).agg(count(lit(1)).as("n_kept"))
    // null-safe: the NULL-source group's kept count must land on its rate
    // row, not be dropped by an equi-join
    rates
      .join(kept, col("source") <=> col("__ksrc"), "left")
      .select(col("source"), col("n_docs"), round(col("share"), 6).as("share"),
        col("rate_bp"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** [[temperatureResample]]'s DECISION artifact — the per-source keep
    * rates alone (basis points, plus the unrounded target share): what a
    * pipeline stores and what [[temperatureKeep]] gates on. One grouped
    * count + one broadcast cross of the 1-row totals; the corpus never
    * shuffles. Output: source, n_docs, share (raw double), rate_bp. */
  def temperatureRates(
      docs: DataFrame,
      alpha: Double = 0.5,
      sourceCol: String = "source"): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"need alpha in [0,1], got $alpha")
    val per = docs.groupBy(col(sourceCol).as("source")).agg(count(lit(1)).as("n_docs"))
    val tot = per.agg(
      sum(col("n_docs")).as("n_total"),
      sum(pow(col("n_docs"), lit(alpha)).cast(DecimalType(28, 12))).cast(DoubleType)
        .as("wsum"))
    per.crossJoin(broadcast(tot))
      .withColumn("share", pow(col("n_docs"), lit(alpha)) / col("wsum"))
      .withColumn("rate",
        least(lit(1.0), col("share") * col("n_total") / col("n_docs")))
      // raw `rate` stays in the artifact so GateMarginSpec can measure
      // its distance to the basis-point floor boundary on the gate corpus
      .select(col("source"), col("n_docs"), col("share"), col("rate"),
        floor(col("rate") * 10000).cast(IntegerType).as("rate_bp"))
  }

  /** The KEPT ROWS under [[temperatureResample]]'s policy — the selection
    * half as a composable stage (original columns, filtered). Selection is
    * the same replayable md5 gate the report counts, so
    * `temperatureKeep(docs).groupBy(source).count` IS the report's
    * n_kept column. One broadcast rate join + one codegen'd filter. */
  def temperatureKeep(
      docs: DataFrame,
      alpha: Double = 0.5,
      sourceCol: String = "source",
      idCol: String = "doc_id"): DataFrame =
    keepWithRates(docs, temperatureRates(docs, alpha, sourceCol), sourceCol, idCol)

  private def keepWithRates(
      docs: DataFrame,
      rates: DataFrame,
      sourceCol: String,
      idCol: String): DataFrame =
    docs
      .withColumn("__tsamp_bucket",
        Sampling.hashBucket(concat(col(idCol).cast(StringType), lit("|tsamp"))))
      // NULL-SAFE rate join: a NULL source is a real group —
      // [[temperatureRates]] emits a rate row for it, and an equi-join here
      // would silently DELETE those documents from the kept training stream
      // instead of sampling them (the mixture stage must never lose data)
      .join(broadcast(rates.select(col("source").as("__tsamp_src"), col("rate_bp"))),
        col(sourceCol) <=> col("__tsamp_src"))
      .filter(col("__tsamp_bucket") < col("rate_bp"))
      .drop("__tsamp_bucket", "__tsamp_src", "rate_bp")

  /** UniMax-style token-budget allocation (Chung et al. 2023,
    * arXiv:2304.09151): split a training-token budget across sources as
    * EVENLY as possible, subject to a per-source repetition cap of
    * `maxEpochsBp` basis points of its corpus (10500 = at most 1.05
    * epochs). Small sources saturate their cap; the freed budget
    * redistributes to the rest — classic capped water-filling, solved in
    * closed form over the cap-ascending order: with caps c₁ ≤ … ≤ c_S and
    * prefix sums P_i, the level candidate L_i = (B − P_{i−1})/(S − i + 1)
    * first becomes feasible (L_i ≤ c_i) exactly at the true water level;
    * sources before that rank take their cap, the rest take the level.
    * The budget here is the corpus's own total token count (each source
    * would train ~1 epoch if unconstrained). Caps are computed with
    * integer `div` (no decimal-vs-IEEE drift); the level division runs on
    * exact integer operands, so both engines compute bit-identical
    * doubles.
    *
    * Scale shape: the corpus reduces to one source-granularity aggregate
    * and never moves again; the water-fill runs over the source-count-
    * sized frame (windows over handfuls of rows).
    * Output: source, n_tokens, cap, alloc (round 4), epochs (round 6). */
  def unimaxAllocation(
      docs: DataFrame,
      maxEpochsBp: Int = 10500,
      sourceCol: String = "source",
      textCol: String = "text"): DataFrame = {
    require(maxEpochsBp > 0, s"need a positive epoch cap, got $maxEpochsBp")
    import org.apache.spark.sql.expressions.Window
    val per = docs
      .select(col(sourceCol).as("source"),
        coalesce(size(array_remove(TextAnalysis.tokens(col(textCol)), "")), lit(0))
          .as("n_tok"))
      .groupBy("source")
      .agg(sum("n_tok").as("n_tokens"))
      .withColumn("cap", expr(s"(n_tokens * $maxEpochsBp) div 10000"))
    val totals = per.agg(sum("n_tokens").as("b"), count(lit(1)).as("s"))
    val ord = Window.orderBy(col("cap"), col("source"))
    val ranked = per.crossJoin(broadcast(totals))
      .withColumn("rn", row_number().over(ord))
      .withColumn("prefix",
        coalesce(sum("cap").over(ord.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("lvl",
        (col("b") - col("prefix")).cast(DoubleType) /
          (col("s") - col("rn") + 1).cast(DoubleType))
    val sel = ranked.filter(col("lvl") <= col("cap").cast(DoubleType))
      .agg(min(struct(col("rn"), col("lvl"))).as("w"))
    ranked.crossJoin(broadcast(sel))
      .withColumn("alloc_raw",
        when(col("w").isNull || col("rn") < col("w.rn"), col("cap").cast(DoubleType))
          .otherwise(col("w.lvl")))
      .select(col("source"), col("n_tokens"), col("cap"),
        round(col("alloc_raw"), 4).as("alloc"),
        when(col("n_tokens") > 0,
          round(col("alloc_raw") / col("n_tokens").cast(DoubleType), 6)).as("epochs"))
  }

  /** Materialize a [[unimaxAllocation]] as per-document COPY COUNTS — the
    * step that turns "source s trains for 1.37 epochs" into an actual
    * training manifest: every doc takes ⌊e⌋ full copies, and the
    * fractional epoch is a replayable md5 gate (basis-point bucket of the
    * doc id vs frac(e)·10⁴) so exactly ~frac of each source takes one
    * extra copy — deterministic across runs, engines, and cluster sizes,
    * the same gate contract as [[temperatureResample]]. Downstream, a
    * trainer expands n_copies (posexplode) or uses it as a sampling
    * weight; expected token mass per source = alloc by construction.
    *
    * Scale shape: the allocation is source-granularity; docs join it by
    * broadcast and gate in one codegen'd projection — the corpus never
    * shuffles. Output: idCol, source, n_copies. */
  def epochMaterialize(
      docs: DataFrame,
      maxEpochsBp: Int = 10500,
      sourceCol: String = "source",
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val g = unimaxAllocation(docs, maxEpochsBp, sourceCol, textCol)
      .select(col("source"), col("epochs"))
      .withColumn("full_copies", floor(col("epochs")).cast(IntegerType))
      .withColumn("frac_bp",
        (floor(col("epochs") * 10000) - floor(col("epochs")) * 10000)
          .cast(IntegerType))
    docs.select(col(idCol), col(sourceCol).as("source"))
      .join(broadcast(g), "source")
      .select(col(idCol), col("source"),
        (col("full_copies") +
          when(Sampling.hashBucket(
            concat(col(idCol).cast(StringType), lit("|epoch"))) < col("frac_bp"), 1)
            .otherwise(0)).as("n_copies"))
  }

  /** The final training-order manifest — the last step before the trainer:
    * expand [[epochMaterialize]]'s per-doc copy counts into actual rows
    * (one per copy) and assign a DETERMINISTIC global shuffle order via
    * md5(id|copy|seed) — reproducible across runs, engines, retries, and
    * cluster sizes (the property `rand()`-shuffling loses on the first
    * task retry), with each copy of a repeated doc landing at an
    * independent position and each seed giving an independent epoch-level
    * permutation.
    *
    * Scale shape: the expansion is an explode bounded by Σn_copies; the
    * global rank uses the q95 recipe — range-partition on the shuffle key,
    * per-partition offsets (a #partitions-row driver step), local
    * row_number — NOT a single-partition window.
    * Output: global_rank, idCol, source, copy. */
  def trainingOrder(
      docs: DataFrame,
      maxEpochsBp: Int = 10500,
      seed: String = "ep1",
      sourceCol: String = "source",
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    val expanded = epochMaterialize(docs, maxEpochsBp, sourceCol, textCol, idCol)
      .filter(col("n_copies") > 0)
      .select(col(idCol), col("source"),
        explode(sequence(lit(1), col("n_copies"))).as("copy"))
      .withColumn("skey",
        md5(concat(col(idCol).cast(StringType), lit("|"),
          col("copy").cast(StringType), lit("|" + seed))))
    val parts = spark.sparkContext.defaultParallelism
    val ranged = expanded
      // materialize once: the range sampling pass would otherwise re-run
      // the whole epoch-expansion + md5 projection (guide §2.4)
      .localCheckpoint(true)
      .repartitionByRange(parts, col("skey"), col(idCol), col("copy"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint(true)
    val offsets = ranged.groupBy("pid").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getAs[Int]("pid"), r.getAs[Long]("n")))
      .sortBy(_._1)
      .scanLeft((0, 0L)) { case ((_, cum), (pid, n)) => (pid, cum + n) }
      .sliding(2).collect { case Array((_, cum), (pid, _)) => (pid, cum) }.toSeq
    val offsetDf = spark.createDataFrame(offsets).toDF("pid", "offset")
    val local = Window.partitionBy("pid")
      .orderBy(col("skey"), col(idCol), col("copy"))
    ranged
      .join(broadcast(offsetDf), "pid")
      .withColumn("global_rank", col("offset") + row_number().over(local))
      .select(col("global_rank"), col(idCol), col("source"), col("copy"))
  }

  /** DSIR — Data Selection with Importance Resampling (Xie et al. 2023,
    * arXiv:2302.03169): pick raw documents that LOOK LIKE a small target
    * domain, by importance weighting in a hashed n-gram feature space. The
    * companion of [[temperatureResample]]: that one rebalances sources by
    * volume; this one selects by CONTENT against a target distribution.
    *
    *  1. Hash every token into `buckets` ids (q106's portable `i|` md5
    *     recipe — no vocabulary table, so the feature space is fixed-size
    *     regardless of corpus size).
    *  2. Fit two smoothed bucket distributions: p̂_target over the docs
    *     matching `isTarget`, p̂_raw over everything (add-λ smoothing keeps
    *     unseen buckets finite).
    *  3. Per-bucket log ratio ln p̂_t(b) − ln p̂_r(b) quantized ONCE into
    *     integer MICRO-units (⌊x·10⁶ + 0.5⌋ as BIGINT — pure IEEE
    *     floor, no engine `round()`); the per-doc weight Σ_b n_b·lr_micro
    *     is then exact Long arithmetic, immune to partitioning AND to
    *     cross-engine-build libm drift (the round-6/7 driver-hash lesson:
    *     `round(double, 6)` itself differs across DuckDB builds).
    *  4. Gumbel-top-k: key_micro = log_w_micro + g_micro where
    *     g = −ln(−ln u) micro-quantized the same way and u is the q163
    *     md5-uniform — the paper's importance RESAMPLING (not plain
    *     top-k) with no RNG state: the drawn set is a pure function of the
    *     data, stable across runs, engines, and partitionings. Integer
    *     keys make ties and ordering exactly decidable; an ulp of ln
    *     drift can only matter if a pre-quantization value sits within
    *     ~1e-9 of a ⌊·+0.5⌋ boundary, which DsirMarginSpec pins away on
    *     the gate dataset.
    *
    * Scale shape: the corpus is read once for features; both distributions
    * are `buckets`-row aggregates joined back by broadcast; the Gumbel rank
    * is one TakeOrdered-k head. Nothing data-sized reaches the driver.
    * Output (one row per doc): idCol, n_tokens, log_w_micro (BIGINT),
    * gumbel_key_micro (BIGINT), selected. */
  def dsirSelect(
      docs: DataFrame,
      isTarget: org.apache.spark.sql.Column,
      nSelect: Int,
      buckets: Int = 256,
      smoothing: Double = 0.5,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(nSelect > 0)
    val (_, keyed) = dsirFrames(docs, isTarget, buckets, smoothing, textCol, idCol)
    val top = keyed.orderBy(desc("gumbel_key_micro"), col(idCol)).limit(nSelect)
      .select(col(idCol), lit(true).as("selected"))
    keyed
      .join(broadcast(top), Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"), col("log_w_micro"),
        col("gumbel_key_micro"),
        coalesce(col("selected"), lit(false)).as("selected"))
  }

  /** The [[dsirSelect]] internals exposed for DsirMarginSpec: (per-bucket
    * logratio frame with `logratio_raw`/`lr_micro`, per-doc keyed frame
    * with `gumbel_raw`/`gumbel_key_micro`). The spec asserts every
    * pre-quantization double sits ≳1e-6 micro-units away from its
    * ⌊·+0.5⌋ boundary — three orders beyond any libm ulp drift. */
  private[graft] def dsirFrames(
      docs: DataFrame,
      isTarget: org.apache.spark.sql.Column,
      buckets: Int = 256,
      smoothing: Double = 0.5,
      textCol: String = "text",
      idCol: String = "doc_id"): (DataFrame, DataFrame) = {
    require(buckets > 0 && smoothing > 0)
    val toks = docs
      .select(col(idCol), isTarget.as("is_target"),
        explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .withColumn("bucket",
        pmod(Sketches.hash60(concat(lit("i|"), col("tok"))), lit(buckets)))
      .groupBy(col(idCol), col("is_target"), col("bucket"))
      .agg(count(lit(1)).as("n_b"))
      .persist()
    try {
      val tCnt = toks.filter(col("is_target"))
        .groupBy("bucket").agg(sum("n_b").as("ct"))
      val rCnt = toks.groupBy("bucket").agg(sum("n_b").as("cr"))
      val totals = toks.agg(
        sum(when(col("is_target"), col("n_b")).otherwise(0L)).as("nt"),
        sum(col("n_b")).as("nr"))
      val lam = lit(smoothing)
      val lamB = lit(smoothing * buckets)
      val ratio = docs.sparkSession.range(buckets).select(col("id").as("bucket"))
        .join(tCnt, Seq("bucket"), "left")
        .join(rCnt, Seq("bucket"), "left")
        .crossJoin(totals)
        .select(col("bucket"),
          // raw double kept ONLY for DsirMarginSpec's boundary check —
          // never summed, never emitted
          (log((coalesce(col("ct"), lit(0L)) + lam) / (col("nt") + lamB))
            - log((coalesce(col("cr"), lit(0L)) + lam) / (col("nr") + lamB)))
            .as("logratio_raw"))
        // micro-quantize ONCE per bucket: ⌊x·10⁶+0.5⌋ is pure IEEE
        // multiply/add/floor (deterministic given x on any engine), so the
        // only cross-build surface is ln's own ulp — absorbed unless a
        // value sits on a boundary, which DsirMarginSpec excludes
        .withColumn("lr_micro", floor(col("logratio_raw") * lit(1e6) + lit(0.5)))
      val weights = toks
        .join(broadcast(ratio.select(col("bucket"), col("lr_micro"))), "bucket")
        .groupBy(col(idCol))
        .agg(sum(col("n_b")).as("n_tokens"),
          sum(col("n_b") * col("lr_micro")).as("log_w_micro"))
      val u = (Sketches.hash60(col(idCol)).cast(DoubleType) + lit(1.0)) /
        lit(Sketches.HashSpace)
      val keyed = docs.select(col(idCol))
        .join(weights, Seq(idCol), "left")
        .select(col(idCol),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          coalesce(col("log_w_micro"), lit(0L)).as("log_w_micro"))
        .withColumn("gumbel_raw", -log(-log(u)))
        .withColumn("gumbel_key_micro",
          col("log_w_micro") + floor(col("gumbel_raw") * lit(1e6) + lit(0.5)))
      (ratio, keyed)
    } finally { toks.unpersist(); () }
  }

  /** Leakage-safe train/val/test split: assignment happens at the
    * DUPLICATE-CLUSTER granularity, not per document — every member of an
    * exact-dup cluster (same normalized-text fingerprint) inherits the
    * split of the cluster's min-id representative, so a document and its
    * duplicates can never straddle train and eval (the classic contamination
    * path stratified-by-doc splits leave open). The split itself is the
    * engine-portable md5 bucket gate (q44's recipe) on the REPRESENTATIVE
    * id: train gets `trainBp`/10000 of clusters, val the next `valBp`,
    * test the rest — deterministic, seedable, replay-stable.
    *
    * Scale shape: one hash-partition shuffle on the fingerprint (min-id per
    * cluster is map-side combinable), one projection for the bucket gate;
    * no window over raw rows. Near-dup-safe splits feed the pair frame
    * into [[Dedup.dedupClusters]] first and join its cluster ids here —
    * same inheritance rule, CC cost paid once.
    *
    * Output: doc_id, cluster_rep, split ∈ train|val|test. */
  def leakageSafeSplit(
      docs: DataFrame,
      trainBp: Int = 8000,
      valBp: Int = 1000,
      seed: String = "v1",
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(trainBp >= 0 && valBp >= 0 && trainBp + valBp <= 10000,
      s"train/val basis points must fit in 10000, got $trainBp+$valBp")
    val reps = docs
      .select(col(idCol).as("id"), TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .groupBy("fp").agg(min(col("id")).as("cluster_rep"))
    val bucket = pmod(
      Sketches.hash60(concat(lit(s"split|$seed|"), col("cluster_rep"))), lit(10000))
    docs
      .select(col(idCol).as("id"), TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .join(reps, "fp")
      .select(col("id").as(idCol), col("cluster_rep"),
        when(bucket < trainBp, "train")
          .when(bucket < trainBp + valBp, "val")
          .otherwise("test").as("split"))
  }

  /** Cross-source quality calibration: each document's quality score as a
    * PERCENTILE within its source (and globally) — the form mixture
    * balancing actually consumes, because raw quality scores are not
    * comparable across sources (a median academic page outscores a good
    * forum post; percentile-within-source removes the source-level shift).
    * Semantics are exactly SQL `percent_rank() OVER (PARTITION BY source
    * ORDER BY quality_score)` = (count strictly below) / (n − 1), ties
    * sharing a value; 0.0 for a single-document source.
    *
    * Scale shape: NOT a window over raw rows (a hot source would pin one
    * partition at corpus scale). Scores are 2dp-quantized, so the
    * distinct (source, score) frame is tiny: aggregate counts per (source,
    * score), run the cumulative window over THAT aggregate (q06's
    * window-over-the-aggregate recipe), and broadcast-join the per-score
    * percentile back to documents.
    *
    * Output: doc_id, source, quality_score, pct_in_source, pct_global. */
  def qualityBySource(
      docs: DataFrame,
      idCol: String = "doc_id",
      srcCol: String = "source"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = TextAnalysis.textStats(docs, idCol = idCol)
      .select(col(idCol), col("quality_score"))
      .join(docs.select(col(idCol), col(srcCol)), idCol)
    def pct(partition: Seq[String]): DataFrame = {
      val grouped = base.groupBy((partition :+ "quality_score").map(col): _*)
        .agg(count(lit(1)).as("n"))
      val w = (if (partition.isEmpty) Window.partitionBy()
               else Window.partitionBy(partition.map(col): _*))
        .orderBy(col("quality_score"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = if (partition.isEmpty) Window.partitionBy()
                 else Window.partitionBy(partition.map(col): _*)
      grouped
        .withColumn("below", sum(col("n")).over(w) - col("n"))
        .withColumn("total", sum(col("n")).over(wAll))
        .select((partition.map(col) :+ col("quality_score") :+
          when(col("total") > 1,
            round(col("below").cast(DoubleType) / (col("total") - 1L), 6))
            .otherwise(0.0).as(if (partition.isEmpty) "pct_global" else "pct_in_source")): _*)
    }
    base
      .join(broadcast(pct(Seq(srcCol))), Seq(srcCol, "quality_score"))
      .join(broadcast(pct(Nil)), Seq("quality_score"))
      .select(col(idCol), col(srcCol), col("quality_score"),
        col("pct_in_source"), col("pct_global"))
  }

  /** DATASET CARD: the per-source datasheet a corpus release ships with —
    * volume (docs, token mass, mean length), quality (mean heuristic
    * score), redundancy (exact-dup rate from [[Dedup.dedupSavings]]'
    * fingerprint groups), and language composition (majority lang +
    * share). One frame a consumer reads before training on the mix;
    * every number is independently gated elsewhere (q20 quality, q216
    * dup groups) — this is their joined release view.
    *
    * Scale shape: three per-source aggregates (token/quality projection,
    * fingerprint window, lang counts) joined on the |sources|-sized key —
    * each map-side combinable; DECIMAL means.
    * Output per source: source, n_docs, n_tokens, mean_tokens,
    * mean_quality, dup_rate, top_lang, top_lang_share (round 6). */
  def datasetCard(docs: DataFrame): DataFrame = {
    val dec = DecimalType(28, 8)
    val stats = TextAnalysis.textStats(docs)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
    val volume = docs.select(col("doc_id"), col("source"))
      .join(stats, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("n_tokens"),
        round(sum(col("n_tokens").cast(dec)).cast(DoubleType) / count(lit(1)), 6)
          .as("mean_tokens"),
        round(sum(col("quality_score").cast(dec)).cast(DoubleType) / count(lit(1)), 6)
          .as("mean_quality"))
    val dup = Dedup.dedupSavings(docs)
      .select(col("source"),
        when(col("n_docs") > 0,
          round(col("n_dup_docs").cast(DoubleType) / col("n_docs").cast(DoubleType), 6))
          .otherwise(0.0).as("dup_rate"))
    val top = docs.groupBy("source", "lang").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(max(struct(col("c"), col("lang"))).as("m"), sum("c").as("tot"))
      .select(col("source"), col("m.lang").as("top_lang"),
        round(col("m.c").cast(DoubleType) / col("tot").cast(DoubleType), 6)
          .as("top_lang_share"))
    volume.join(dup, "source").join(top, "source")
  }

  /** SEQUENCE PACKING (concat-and-chunk, the GPT/Llama pretraining
    * batcher): concatenate the token streams of all documents in
    * deterministic `idCol` order and cut the stream into fixed
    * `ctxTokens`-sized context windows — no padding anywhere except the
    * final partial window, at the cost of documents straddling window
    * boundaries (the fragmentation this report measures). Complements
    * [[lengthBucketedBatches]] (q95), which is the padding-based
    * alternative that never splits a document.
    *
    * Output is the window-occupancy HISTOGRAM: for each distinct count of
    * documents overlapping a window — `docs_in_window` — the number of
    * such windows, the document STARTS they contain, and how many of
    * their document slots belong to boundary-split documents. All exact
    * integers (counts of counts), so the frame is bit-stable across
    * engines and the curve is the training-efficiency artifact people
    * actually read (many docs per window ⇒ heavy attention-mask
    * fragmentation; splits ⇒ truncated contexts).
    *
    * Scale shape: one token-count projection (codegen'd), one
    * [[graft.relational.Relational.distributedCumSum]] for the global
    * token offsets (range partition + #partitions-row driver scan — never
    * a single-partition window), then a per-doc window-span explode whose
    * factor is 1 + crossings (total slots = n_docs + total_tokens/ctx,
    * linear), and two map-side-combinable aggregates. Empty docs (0
    * tokens) occupy no window and drop out, mirroring the oracle. */
  def sequencePack(
      docs: DataFrame,
      ctxTokens: Int = 256,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    packReportFromSlots(packSlots(docs, ctxTokens, textCol, idCol))

  /** [[sequencePack]]'s MERGEABLE artifact: one row per context window —
    * 〈window_id, n_docs, n_starts, n_split〉. Window positions are GLOBAL
    * (the `tokenOffset` frame carries the token count of everything packed
    * before this slice, 0 for the first), so artifacts from consecutive
    * document ranges are disjoint BY DOCUMENT and merge with
    * [[packMergeSlots]] by per-window addition — the seam window (where
    * the old stream's tail and the new batch's head share a context) is
    * the one window both artifacts touch, and addition is exactly right
    * there because each side counted only its own documents. q257 gates
    * the law: split + merge ≡ whole-corpus rebuild, bit-for-bit. */
  def packSlots(
      docs: DataFrame,
      ctxTokens: Int = 256,
      textCol: String = "text",
      idCol: String = "doc_id",
      tokenOffset: Option[DataFrame] = None): DataFrame = {
    require(ctxTokens >= 1, s"need ctxTokens >= 1, got $ctxTokens")
    packSlotsFromSpans(packSpans(docs, textCol, idCol, tokenOffset), ctxTokens)
  }

  /** Positioned span frame 〈idCol, n_tok, start〉 — the ctx-independent
    * half of [[packSlots]] (one token-count projection + one distributed
    * prefix sum), shared by the context-size sweep [[sequencePackCurve]]
    * so the cumsum runs once per corpus, not once per candidate ctx. */
  def packSpans(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      tokenOffset: Option[DataFrame] = None): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs
      .select(col(idCol),
        coalesce(size(array_remove(TextAnalysis.tokens(col(textCol)), "")), lit(0))
          .cast("long").as("n_tok"))
      .filter(col("n_tok") > 0)
    // materializeInput: the (id, n_tok) feed is a tokenize-and-count
    // projection over the corpus — without it the range exchange's
    // sampling pass tokenizes every document a second time (guide §2.4)
    val cum = graft.relational.Relational
      .distributedCumSum(toks, Seq(idCol), Seq("n_tok"), materializeInput = true)
    // the offset frame MUST be exactly one row — a multi-row frame would
    // silently duplicate every span through the crossJoin and corrupt the
    // packing artifact; collect it to a single literal instead (it is a
    // scalar by contract: "token count of everything packed before")
    val off = tokenOffset.map { f =>
      // cast first: an IntegerType offset frame must widen, not throw a
      // ClassCastException at getLong
      val rows = f.select(col("tok_offset").cast("long")).limit(2).collect()
      require(rows.length == 1, "tokenOffset must be a single-row frame, " +
        s"got ${if (rows.length > 1) "2 or more" else "0"} rows")
      require(!rows(0).isNullAt(0),
        "tokenOffset must be a single-row frame with a non-null tok_offset")
      Seq(rows(0).getLong(0)).toDF("tok_offset")
    }.getOrElse(Seq(0L).toDF("tok_offset"))
    cum.crossJoin(broadcast(off))
      .select(col(idCol), col("n_tok"),
        (col("tok_offset") + col("cum_n_tok") - col("n_tok")).as("start"))
  }

  /** CONTEXT-SIZE sweep of [[sequencePack]] — the fragmentation-vs-ctx
    * curve that answers "what does raising the context window cost in
    * cross-document attention and buy in fewer splits": one prefix sum,
    * then each candidate ctx re-buckets the SAME spans (window assignment
    * is pure integer division off the shared start offsets). Output per
    * (ctx, docs_in_window): ctx, docs_in_window, n_windows, n_starts,
    * n_split_slots. */
  def sequencePackCurve(
      docs: DataFrame,
      ctxs: Seq[Int] = Seq(64, 256, 1024),
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(ctxs.nonEmpty && ctxs.forall(_ >= 1), s"need ctxs >= 1, got $ctxs")
    // ONE pass (round-12 verdict #6): explode each span into (ctx, window)
    // pairs off a literal ctx array instead of re-bucketing a checkpointed
    // span frame once per ctx — same explode volume, but one scan, one
    // (ctx, window) aggregation shuffle, and no eager checkpoint
    // materialization. A/B-measured at ScaleUp 30x/100x — see the
    // PLANS.md round-12 q265 adjudication and BENCHSCALE14 rows.
    val ctxArr = array(ctxs.sorted.map(c => lit(c.toLong)): _*)
    packSpans(docs, textCol, idCol)
      .select(col("n_tok"), col("start"), explode(ctxArr).as("ctx"))
      .select(col("ctx"),
        expr("start div ctx").as("fw"),
        expr("(start + n_tok - 1) div ctx").as("lw"))
      .select(col("ctx"),
        explode(sequence(col("fw"), col("lw"))).as("window_id"),
        col("fw"), (col("lw") > col("fw")).as("split"))
      .groupBy("ctx", "window_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("window_id") === col("fw"), 1L).otherwise(0L)).as("n_starts"),
        sum(when(col("split"), 1L).otherwise(0L)).as("n_split"))
      .groupBy(col("ctx"), col("n_docs").as("docs_in_window"))
      .agg(count(lit(1)).as("n_windows"), sum("n_starts").as("n_starts"),
        sum("n_split").as("n_split_slots"))
      .orderBy("ctx", "docs_in_window")
  }

  /** Slot aggregation off an already-positioned span frame 〈idCol, n_tok,
    * start〉 — the stateless half of [[packSlots]]: start/end positions →
    * window-span explode → per-window counts. */
  def packSlotsFromSpans(spans: DataFrame, ctxTokens: Int): DataFrame =
    spans
      .select(expr(s"start div $ctxTokens").as("fw"),
        expr(s"(start + n_tok - 1) div $ctxTokens").as("lw"))
      .select(explode(sequence(col("fw"), col("lw"))).as("window_id"),
        col("fw"), (col("lw") > col("fw")).as("split"))
      .groupBy("window_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("window_id") === col("fw"), 1L).otherwise(0L)).as("n_starts"),
        sum(when(col("split"), 1L).otherwise(0L)).as("n_split"))

  /** Merge per-slice packing artifacts by per-window ADDITION (see
    * [[packSlots]] — document-disjoint slices make this exact). */
  def packMergeSlots(artifacts: DataFrame*): DataFrame =
    artifacts.reduce(_ unionByName _)
      .groupBy("window_id")
      .agg(sum("n_docs").as("n_docs"), sum("n_starts").as("n_starts"),
        sum("n_split").as("n_split"))

  /** Per-GROUP sequence packing — [[sequencePack]] sharded by a grouping
    * column (source/domain/language): each group concatenates its own
    * token stream into its own context windows, the way multi-domain
    * pretraining actually packs (domain shards never share a window, so
    * no attention mask ever spans domains). Output is the occupancy
    * histogram PER GROUP.
    *
    * Scale shape: the prefix sum here is a window PARTITIONED BY the
    * group (hash-sharded — no single-partition risk, unlike a global
    * orderBy window), so the operator costs one shuffle on the group key
    * plus the same span explode/aggregates as [[sequencePack]]. Caveat: a
    * pathological mega-group serializes its own window into one task — at
    * that grain, pack the group alone via [[packSlots]]'s
    * distributedCumSum path instead. */
  def sequencePackByGroup(
      docs: DataFrame,
      ctxTokens: Int = 256,
      groupCol: String = "source",
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(ctxTokens >= 1, s"need ctxTokens >= 1, got $ctxTokens")
    val w = Window.partitionBy(groupCol).orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val spans = docs
      .select(col(groupCol), col(idCol),
        coalesce(size(array_remove(TextAnalysis.tokens(col(textCol)), "")), lit(0))
          .cast("long").as("n_tok"))
      .filter(col("n_tok") > 0)
      .withColumn("cum", sum("n_tok").over(w))
      .select(col(groupCol),
        expr(s"(cum - n_tok) div $ctxTokens").as("fw"),
        expr(s"(cum - 1) div $ctxTokens").as("lw"))
    spans
      .select(col(groupCol),
        explode(sequence(col("fw"), col("lw"))).as("window_id"),
        col("fw"), (col("lw") > col("fw")).as("split"))
      .groupBy(groupCol, "window_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("window_id") === col("fw"), 1L).otherwise(0L)).as("n_starts"),
        sum(when(col("split"), 1L).otherwise(0L)).as("n_split"))
      .groupBy(col(groupCol), col("n_docs").as("docs_in_window"))
      .agg(count(lit(1)).as("n_windows"), sum("n_starts").as("n_starts"),
        sum(col("n_split")).as("n_split_slots"))
      .orderBy(groupCol, "docs_in_window")
  }

  /** Readout half of [[sequencePack]]: the occupancy histogram from a
    * (possibly merged) slots artifact. */
  def packReportFromSlots(slots: DataFrame): DataFrame =
    slots
      .groupBy(col("n_docs").as("docs_in_window"))
      .agg(count(lit(1)).as("n_windows"), sum("n_starts").as("n_starts"),
        sum("n_split").as("n_split_slots"))
      .orderBy("docs_in_window")
}
