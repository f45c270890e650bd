package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.core.SizeGate
import graft.marts.HotMarts

/** Hot-mart streaming job
  * (reference: streaming_to_analytics_mart_realtime.py — SURVEY.md §3.3):
  * stream the curated parquet layer, and per micro-batch cache the batch
  * once, fan out to the four hot-mart transforms, and hand each result to a
  * sink callback.
  *
  * [[parquetSource]] over a layer written by [[CuratedStreamJob.start]]
  * lists the files of the layer's sink log (`_spark_metadata`), not the
  * directory: a curated batch becomes visible only once it has committed,
  * so a minute is never served from half a batch and then again from the
  * rest.
  *
  * Differences from the reference, deliberate:
  *  - explicit curated schema instead of `streaming.schemaInference=true`
  *    (SURVEY.md §1.3 — inference is a deployment convenience, not a
  *    semantic);
  *  - sinks receive `batchId` so idempotent upsert keys can be
  *    replay-stable ([[graft.sinks.JdbcUpsertSink.upsert]]) instead of the
  *    reference's wall-clock snapshot_ts (RT:218-236, a replay hazard);
  *  - `updated_at`/`snapshot_ts` columns are stamped here at the sink
  *    boundary, keeping the mart transforms pure and testable.
  */
object HotMartStreamJob {

  /** Per-batch outputs handed to the serving sink. */
  final case class HotMartBatch(
      batchId: Long,
      trafficMinute: DataFrame,
      topDocs: DataFrame,
      categoryTrend: DataFrame,
      anomalies: DataFrame)

  def parquetSource(
      spark: SparkSession,
      curatedPath: String,
      schema: StructType,
      maxFilesPerTrigger: Int = 10): DataFrame =
    spark.readStream
      .format("parquet")
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(curatedPath)

  /** Compute all four hot marts from one cached micro-batch
    * (reference caches + sequentially fans out, RT:345-381). */
  def computeBatch(batch: DataFrame, batchId: Long): HotMartBatch = {
    val areaCounts = graft.marts.ColdMarts.clinicalAreas(batch)
    HotMartBatch(
      batchId = batchId,
      trafficMinute = HotMarts.trafficPerMinute(batch)
        .withColumn("updated_at", current_timestamp()),
      topDocs = HotMarts.topDocs(batch, 20)
        .withColumn("batch_id", lit(batchId)),
      // NOTE: within one micro-batch the lag window usually sees a single
      // event_date per area, so trend_pct is null here — the real
      // day-over-day trend needs history and is produced by the batch /
      // backfill path (ColdMarts over the full curated layer, q07); the hot
      // path carries current counts and the serving-side upsert keeps the
      // mart's trend column from the last batch that could compute it.
      categoryTrend = HotMarts.categoryTrend(
          areaCounts, "clinical_area", "event_date", "search_count")
        .withColumn("batch_id", lit(batchId)),
      anomalies = HotMarts.anomalySessions(batch)
        .withColumn("batch_id", lit(batchId)))
  }

  /** Start the stream; `sink` is called once per micro-batch with the four
    * mart frames (production: JDBC upsert/append; tests: collect). The file
    * and Kafka sources schedule a batch only when input arrived, so there is
    * no empty-batch pre-pass. The four marts share the batch through
    * [[graft.core.SizeGate.withSlice]], as the cold marts share a day: one
    * partition when it fits one task, so the marts plan with no shuffle. */
  def start(
      source: DataFrame,
      sink: HotMartBatch => Unit,
      checkpointPath: String,
      trigger: Trigger = Trigger.ProcessingTime("5 minutes")): StreamingQuery =
    source.writeStream
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        SizeGate.withSlice(batch)(slice => sink(computeBatch(slice, batchId)))
      }
      .start()
}
