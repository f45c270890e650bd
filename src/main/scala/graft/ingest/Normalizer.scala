package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.schema.TripClick

/** Raw-frame → curated-event normalization.
  *
  * Reproduces the reference's parse/project chain
  * (reference: streaming_to_curated_stream.py:125-139,
  * batch_to_archive_raw.py:130-162) as one reusable, codegen-friendly
  * transform: CAST(value AS STRING) → from_json(schema) → snake_case
  * projection → to_timestamp → null-key filter. No UDFs anywhere — the
  * whole chain stays inside whole-stage codegen.
  */
object Normalizer {

  /** Parse a Kafka-shaped frame (binary `value` + metadata columns) into the
    * curated projection: the good side of the one dead-letter parse, so a
    * line lands in curated exactly when it does not land in quarantine.
    * Works identically on batch and streaming frames. */
  def fromKafkaFrame(frame: DataFrame): DataFrame =
    withDeadLetter(frame, col("value").cast(StringType))._1

  /** Parse JSON-lines text already read as a single string column `json`:
    * the good side of [[fromJsonLinesWithDeadLetter]]. */
  def fromJsonLines(lines: DataFrame): DataFrame =
    fromJsonLinesWithDeadLetter(lines)._1

  /** Raw field → curated column (reference: streaming_to_curated_stream.py:127-139);
    * `event_ts` is converted to a timestamp, every other field passes as is. */
  private val curatedColumns: Seq[Column] = Seq(
    "SessionId" -> "session_id", "DocumentId" -> "document_id",
    "Url" -> "url", "Title" -> "title", "DOI" -> "doi",
    "Keywords" -> "keywords", "ClinicalAreas" -> "clinical_areas",
    "event_ts" -> "event_ts", "event_date" -> "event_date",
    "dedup_key" -> "dedup_key"
  ).map {
    case ("event_ts", c) => to_timestamp(col("data.event_ts")).as(c)
    case (f, c) => col(s"data.$f").as(c)
  }

  /** The snake_case projection of the parsed struct, keyless rows dropped. */
  def curatedProjection(parsed: DataFrame): DataFrame =
    parsed.select(curatedColumns: _*).filter(col("dedup_key").isNotNull)

  /** The one JSON parse: `raw` payload + `data` struct.
    * from_json in PERMISSIVE mode yields a null-FIELDED struct on malformed
    * input, not a null struct, and keeps the fields that did convert when
    * one field fails — the corrupt-record column is the reliable
    * malformed-row signal. */
  private def parse(frame: DataFrame, payload: Column): DataFrame = {
    val data = from_json(payload, parseSchema,
      Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt_record"))
    frame.select(payload.as("raw"), data.as("data"))
  }

  /** `rawSchema` plus the corrupt-record column the permissive parse fills. */
  private val parseSchema: StructType =
    TripClick.rawSchema.add(StructField("_corrupt_record", StringType))

  /** Parse with a dead-letter side channel: rows whose JSON fails to parse
    * or convert, or that lack the dedup key, are captured with the raw
    * payload instead of silently vanishing — at pipeline scale, silent
    * drop rates are how corpora rot. Returns (curated, deadLetter), which
    * partition the input. Both frames share the parse plan lazily; a
    * caller materializing both sides should cache the input (or write good
    * first, bad second) to avoid parsing the source twice. */
  def fromJsonLinesWithDeadLetter(lines: DataFrame): (DataFrame, DataFrame) =
    withDeadLetter(lines, col("json"))

  /** (good, bad) of one parse of `payload`: a row is bad when its payload is
    * null, unparseable or unconvertible, or it has no dedup key. */
  private def withDeadLetter(frame: DataFrame, payload: Column): (DataFrame, DataFrame) = {
    val parsed = parse(frame, payload)
    val corrupt = col("data._corrupt_record").isNotNull
    val keyless = col("data.dedup_key").isNull
    val good = curatedProjection(parsed.filter(!corrupt && !keyless))
    val bad = parsed
      .filter(corrupt || keyless)
      .select(col("raw"),
        when(col("raw").isNull, "null_payload")
          .when(corrupt, "unparseable_json")
          .otherwise("missing_dedup_key").as("reject_reason"),
        current_timestamp().as("rejected_at"))
    (good, bad)
  }

  /** Deterministic batch dedup: keep the first row per key by (orderCol, tieBreak).
    * `dropDuplicates` keeps an arbitrary row — fine for streaming
    * effectively-once (reference: streaming_to_curated_stream.py:147-151), but
    * non-deterministic for batch replays; this variant is replay-stable.
    * Implemented as a window argmin, which Catalyst executes as a single
    * hash-partition shuffle on `keys` (no extra sort pass beyond the window). */
  def dedupFirst(df: DataFrame, keys: Seq[String], orderCols: Seq[Column]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*).orderBy(orderCols: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }
}
