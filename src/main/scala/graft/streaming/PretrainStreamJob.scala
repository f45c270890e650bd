package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.analysis.CorpusPrep

/** The CAPSTONE as a daily-ingest streaming job — the reference's lambda
  * shape (streaming_to_analytics_mart_realtime.py:345-381's foreachBatch
  * + checkpoint contract) applied to the engine's flagship pipeline:
  * each micro-batch of new documents runs
  * [[graft.analysis.CorpusPrep.pretrainIncrementWithArtifacts]] against
  * the artifact LAYER (yesterday's state), hands the packed readout to
  * the sink, and appends the batch's artifact DELTAS as a new layer
  * version.
  *
  * Replay contract (crash between the artifact write and the sink/
  * checkpoint commit): versions are keyed by the deterministic streaming
  * `batchId`, reads take only versions STRICTLY BELOW the current batch,
  * and the delta write is an overwrite of `v=<batchId>` alone — so a
  * replayed batch reads exactly the pre-batch state, recomputes the same
  * deltas, and overwrites its own partial leftovers. Nothing is
  * double-counted; PipelineSpec pins two-batch ≡ whole-rebuild AND
  * replay-idempotency.
  *
  * Monotonic ingest ids (every batch id above every stored doc id) are
  * the increment law's precondition — the increment itself guards it
  * loudly. The first batch (no prior layer version) bootstraps:
  * whole-pipeline run + full artifact build, the same two calls a
  * backfill makes. */
object PretrainStreamJob {

  /** True when the layer holds any version strictly below `batchId` —
    * Hadoop-FS listing of the exact-docs kind (all kinds are written
    * together, so one kind's versions are the layer's). */
  def hasPriorVersion(spark: SparkSession, root: String, batchId: Long): Boolean = {
    val path = new org.apache.hadoop.fs.Path(s"$root/exact")
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(path) && fs.listStatus(path).exists { st =>
      val n = st.getPath.getName
      st.isDirectory && n.startsWith("v=") &&
        scala.util.Try(n.stripPrefix("v=").toLong).toOption.exists(_ < batchId)
    }
  }

  /** One micro-batch: repair the layer after any crash mid-fold, read the
    * pre-batch layer state, increment (or bootstrap), write this batch's
    * deltas as `v=<batchId>`, emit the packed readout — then, every
    * `compactEvery` batches, fold the layer's old versions (see below).
    * Exposed for direct spec-level replay injection.
    *
    * The repair ([[graft.analysis.CorpusPrep.recoverArtifactLayer]]) runs
    * before anything reads the layer: a fold that crashed after archiving
    * old versions and before promoting its base leaves the layer without
    * them, so an unrepaired replay would find no prior version and
    * bootstrap from its own batch alone.
    *
    * Compaction cadence (`compactEvery` > 0): after the sink call, batch B
    * folds every layer version `<= B - 1` into one base per kind
    * ([[graft.analysis.CorpusPrep.compactArtifacts]]) — without it a year
    * of daily batches leaves ~365 delta dirs per kind under every read.
    * Replay-safe: the fold target stays STRICTLY below B, so a
    * crash-replayed batch B (which reads `v < B` and overwrites only
    * `v=B`) sees a row-identical pre-batch state whether or not the fold
    * ran; batches the checkpoint already committed past are never
    * replayed, so folding them loses nothing. */
  def processBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      artifactRoot: String,
      sink: (Long, DataFrame) => Unit,
      t: CorpusPrep.Thresholds = CorpusPrep.Thresholds(),
      evalMod: Int = 17,
      alpha: Double = 0.5,
      ctxTokens: Int = 256,
      compactEvery: Int = 0): Unit = {
    CorpusPrep.recoverArtifactLayer(spark, artifactRoot)
    // explicit delta file sizing: inside foreachBatch the micro-batch plan
    // runs WITHOUT AQE, so writeArtifacts' default rebalance hint is inert
    // here and every delta would land one-file-per-partition — the exact
    // small-file spiral the compaction cadence exists to fight (round-14
    // verdict #5; guide §6). Micro-batch deltas are trigger-sized, so one
    // file per kind per batch is the right layout and the explicit
    // exchange moves batch-sized bytes only.
    val deltaFiles = Some(1)
    if (hasPriorVersion(spark, artifactRoot, batchId)) {
      val (packed, deltas) = CorpusPrep.pretrainIncrementWithArtifacts(
        CorpusPrep.readArtifacts(spark, artifactRoot, batchId), batch,
        t, evalMod, alpha, ctxTokens)
      CorpusPrep.writeArtifacts(deltas, artifactRoot, batchId, deltaFiles)
      sink(batchId, packed)
    } else {
      // bootstrap: the batch IS the corpus — same two calls as a backfill
      CorpusPrep.writeArtifacts(
        CorpusPrep.pretrainArtifacts(batch, t, evalMod), artifactRoot, batchId,
        deltaFiles)
      sink(batchId, CorpusPrep.pretrainPipeline(batch, t, evalMod, alpha, ctxTokens))
    }
    if (compactEvery > 0 && batchId % compactEvery == 0 && batchId >= 1)
      CorpusPrep.compactArtifacts(spark, artifactRoot, upToInclusive = batchId - 1)
  }

  /** Start the stream; `sink` is called once per non-empty micro-batch
    * with (batchId, packed occupancy histogram). Empty batches are
    * skipped whole — no layer version is written, so they cannot shadow
    * a later replay. The batch is persisted before the emptiness test, so
    * the source plan runs once per batch. */
  def start(
      source: DataFrame,
      artifactRoot: String,
      sink: (Long, DataFrame) => Unit,
      checkpointPath: String,
      trigger: Trigger = Trigger.ProcessingTime("1 day"),
      t: CorpusPrep.Thresholds = CorpusPrep.Thresholds(),
      evalMod: Int = 17,
      alpha: Double = 0.5,
      ctxTokens: Int = 256,
      compactEvery: Int = 0): StreamingQuery =
    source.writeStream
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.persist()
        try {
          if (!batch.isEmpty)
            processBatch(batch.sparkSession, batch, batchId, artifactRoot,
              sink, t, evalMod, alpha, ctxTokens, compactEvery)
        } finally { batch.unpersist(); () }
      }
      .start()
}
