package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ingest.Normalizer
import graft.sinks.ParquetLayerSink

/** Streaming Kafka→Curated job
  * (reference: streaming_to_curated_stream.py — SURVEY.md §3.2):
  * raw frames → normalize → watermarked streaming dedup → Spark's parquet
  * file sink, partitioned by date, with checkpointing: each micro-batch runs
  * its plan once and is published atomically through the sink's log.
  *
  * Dedup semantics (D1): `dropDuplicates("dedup_key")` after
  * `withWatermark(event_ts, …)` keeps per-key state in the state store and
  * expires it when the watermark passes — at-least-once input becomes
  * effectively-once output, with state bounded by (keys arriving within the
  * watermark) instead of growing forever. That bound is what makes this work
  * on an unbounded 100 TB/day stream.
  *
  * Sources are abstracted (SURVEY.md §7.4): tests drive this with a file
  * source; production uses [[kafkaSource]] with identical downstream code.
  */
object CuratedStreamJob {

  /** Production source: Kafka subscription, config-compatible with the
    * reference's options (S2C:110-118). Not exercisable in this sandbox —
    * kept thin and identical in shape to the tested file source. */
  def kafkaSource(spark: SparkSession, bootstrapServers: String, topic: String): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
      .option("startingOffsets", "latest")
      .option("failOnDataLoss", "false")
      .load()

  /** Test/backfill source: stream a directory of JSON-lines event files. */
  def jsonlSource(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 10): DataFrame =
    spark.readStream
      .format("text")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(dir)
      .withColumnRenamed("value", "json")

  /** The transform: normalize + dedup within a 10-minute event-time
    * watermark. `rawIsKafka` selects the frame parser; everything
    * downstream is shared.
    *
    * Deliberate deviation from the reference: the reference's
    * `withWatermark(...).dropDuplicates(["dedup_key"])` (S2C:147-151) does
    * NOT bound its state — Spark only evicts dedup state when the event-time
    * column is part of the dedup keys, so on an unbounded stream that state
    * store grows forever. `dropDuplicatesWithinWatermark` is the operator
    * built for this contract: state for a key is dropped once the watermark
    * passes it, duplicates within the watermark collapse, and a duplicate
    * arriving later than the watermark may re-emit (the documented
    * at-least-once edge the downstream idempotent upsert sink absorbs). */
  def curate(raw: DataFrame, rawIsKafka: Boolean): DataFrame = {
    val normalized =
      if (rawIsKafka) Normalizer.fromKafkaFrame(raw)
      else Normalizer.fromJsonLines(raw)
    normalized
      .withWatermark("event_ts", "10 minutes")
      .dropDuplicatesWithinWatermark(Seq("dedup_key"))
  }

  /** Start the quarantine stream, the dead-letter twin of [[curate]]:
    * `rejected` is the REJECT side of the same permissive parse
    * (`Normalizer.fromJsonLinesWithDeadLetter(raw)._2`) — corrupt JSON,
    * null payloads, rows missing their dedup key — quarantined with a
    * reason and arrival timestamp instead of being silently dropped by the
    * clean path's null filters (the two sides partition the input
    * exhaustively, NormalizerSpec). Runs as its OWN query and checkpoint
    * over the same source — the standard split-sink layout: the clean path
    * keeps its stateful watermarked dedup untouched, the quarantine is a
    * stateless append, and each side recovers independently. At-least-once
    * ingress makes corrupt events an operational certainty; the
    * reference's parse drops them on the floor (S2C:126-139). Written
    * through Spark's parquet file sink, partitioned by reject date,
    * exactly once like [[start]]. */
  def startRejects(
      rejected: DataFrame,
      quarantinePath: String,
      checkpointPath: String,
      trigger: Trigger = Trigger.ProcessingTime("1 minute")): StreamingQuery =
    rejected.withColumn("reject_date", to_date(col("rejected_at")))
      .writeStream
      .format("parquet")
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", checkpointPath)
      .partitionBy("reject_date")
      .start(quarantinePath)

  /** Start the stream: Spark's parquet file sink, partitioned by
    * `event_date`, one write job per micro-batch (the reference's
    * foreachBatch append, S2C:157-176, guards each write with `isEmpty`,
    * which runs the stateful read → parse → dedup plan a second time). The
    * reference's per-batch `coalesce(1)` is dropped — `maxRecordsPerFile`
    * bounds file sizes instead. The layer is not compacted: files rewritten
    * outside the sink log would hide their rows from its readers.
    *
    * The sink records each batch's files in `<outputPath>/_spark_metadata`
    * and commits that entry before the checkpoint's; a batch re-run after a
    * crash between the two finds its entry and writes nothing, so the
    * curated layer is exactly once. Readers of the layer — batch
    * `spark.read.parquet(outputPath)` and
    * [[HotMartStreamJob.parquetSource]] — list the files of that log, so
    * they never see a batch that is only partly written. */
  def start(
      curated: DataFrame,
      outputPath: String,
      checkpointPath: String,
      trigger: Trigger = Trigger.ProcessingTime("1 minute")): StreamingQuery =
    curated.writeStream
      .format("parquet")
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", checkpointPath)
      .option("maxRecordsPerFile", ParquetLayerSink.MaxRecordsPerFile)
      .partitionBy(ParquetLayerSink.PartitionCol)
      .start(outputPath)
}
