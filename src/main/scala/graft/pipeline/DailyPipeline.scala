package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.{escapePathName, unescapePathName, DEFAULT_PARTITION_NAME}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Fanout, SizeGate}
import graft.ingest.Normalizer
import graft.marts.ColdMarts
import graft.schema.TripClick
import graft.sinks.{JdbcUpsertSink, ParquetLayerSink}
import graft.sinks.ParquetLayerSink.PartitionCol

/** Local batch pipeline runner — replaces the reference's Airflow DAG chain
  * (producer → streaming → batch → mart → load,
  * orchestration/dags/pipeline/tripclick_main_dag.py:118-126) for
  * single-process runs and tests. Each stage is a function over paths;
  * orchestration (retries, scheduling) is deliberately out of scope — any
  * scheduler can call these.
  *
  * Every stage works in O(day): it touches only the `event_date`
  * partitions the new drop changed, through a pending-partition handoff.
  * After its commit, a stage records each date it changed as an empty
  * marker file `<root>/_pending/<next stage>/<date>`. The next stage
  * snapshots its markers, reads the same partitions of its source once
  * ([[IncrementalMart.readPartitions]]), recomputes and overwrites only
  * those partitions, marks its own successor, and only then deletes the
  * markers it consumed.
  * A crash anywhere leaves the markers in place, and the rerun redoes
  * idempotent work. A missing output counts as "every source partition
  * pending", which covers both the first run and the repair of a deleted
  * layer. The serving load keeps one
  * pending set per target database and mart
  * (`_pending/serving/<digest of the JDBC URL>/<mart>`), so several
  * databases fed from one lake each converge.
  *
  * Row counts come from the writes, never from re-reading a layer: the
  * archive's touched dates and good/bad counts from one `Observation` on
  * its write, whole-layer totals from each layer's row-count manifest,
  * whose rewritten partitions are recounted from their Parquet footers on
  * the driver ([[ParquetLayerSink.partitionRows]]).
  */
object DailyPipeline {

  final case class Layout(root: String) {
    val archiveRaw = s"$root/archive_raw"
    val curated = s"$root/curated"
    val quarantine = s"$root/quarantine"
    def mart(name: String) = s"$root/analytics_mart/$name"
    /** The pending-partition markers of `stage`, one empty file per date. */
    def pending(stage: String) = s"$root/_pending/$stage"
  }

  /** Stage 1 (reference: batch_to_archive_raw.py): raw JSONL → archive-raw
    * layer, append-partitioned by event_date, duplicates retained. Corrupt
    * or keyless payloads land in the quarantine layer with reason +
    * timestamp (same layout as the streaming dead-letter channel,
    * [[graft.streaming.CuratedStreamJob.startRejects]]) instead of being
    * silently filtered — the batch and streaming ingress share one
    * quarantine contract. Marks the appended dates pending for [[curate]];
    * returns the rows in the archive-raw layer. */
  def archiveRaw(spark: SparkSession, jsonlDir: String, layout: Layout): Long = {
    val lines = Observation("archive_raw_lines")
    val kept = Observation("archive_raw_kept")
    val raw = spark.read.text(jsonlDir).withColumnRenamed("value", "json")
      .observe(lines, count(lit(1)).as("n"))
    val (good, bad) = Normalizer.fromJsonLinesWithDeadLetter(raw)
    val parsed = good
      .withColumn("ingested_at", current_timestamp())
      .withColumn("ingestion_type", lit("batch"))
      .observe(kept, count(lit(1)).as("n"), collect_set(
        coalesce(nullif(col(PartitionCol), lit("")), lit(DEFAULT_PARTITION_NAME))).as("dates"))
    // good first, bad second: both sides share the parse plan lazily and
    // the source re-read is cheaper than caching it for the rare rejects
    ParquetLayerSink.appendPartitioned(parsed, layout.archiveRaw)
    if (lines.get("n") != kept.get("n")) {
      bad.withColumn("reject_date", to_date(col("rejected_at")))
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .partitionBy("reject_date").parquet(layout.quarantine)
    }
    val dates = kept.get("dates").asInstanceOf[Seq[String]].map(escapePathName)
    new Handoff(spark, layout).mark(Curate, dates)
    ParquetLayerSink.partitionRows(spark, layout.archiveRaw, dates).values.sum
  }

  /** Stage 2 (batch analog of streaming_to_curated_stream.py): archive-raw →
    * deduplicated curated layer, for the pending dates only. Batch dedup is
    * the replay-deterministic argmin variant, not arbitrary-row
    * dropDuplicates; it is exact per date because every duplicate of an
    * event shares its `event_date`. A date is passed on to [[coldMarts]]
    * only when its curated row count changed: the archive only grows, so an
    * unchanged count is an unchanged key set, and duplicates carry the same
    * event (a drop that only replays old events changes no mart). Returns
    * the rows in the curated layer. */
  def curate(spark: SparkSession, layout: Layout): Long = {
    val h = new Handoff(spark, layout)
    val dates = h.pending(Curate, !h.exists(layout.curated), layout.archiveRaw)
    val before = ParquetLayerSink.partitionRows(spark, layout.curated)
    if (dates.isEmpty) before.values.sum
    else {
      val marked = h.markers(Marts).toSet
      // marked before the write, so a crash after it never loses a date
      h.mark(Marts, dates)
      IncrementalMart.refresh(spark, layout.archiveRaw, archiveSchema, layout.curated, dates,
        archived => Normalizer.dedupFirst(archived.drop("ingested_at", "ingestion_type"),
          keys = Seq("dedup_key"),
          orderCols = Seq(col("event_ts"), col("session_id"))))
      val after = ParquetLayerSink.partitionRows(spark, layout.curated, dates)
      h.consume(Marts, dates.filter(d => !marked(d) && before.contains(d) && before.get(d) == after.get(d)))
      h.consume(Curate, dates)
      after.values.sum
    }
  }

  /** The four cold marts, by name, with their queries over the curated
    * layer — single source of truth for the compute and serving-load
    * stages. */
  private val coldMartQueries: Seq[(String, DataFrame => DataFrame)] = Seq(
    "mart_session_analysis" -> (ColdMarts.sessionAnalysis(_)),
    "mart_daily_traffic" -> (ColdMarts.dailyTraffic(_)),
    "mart_clinical_areas" -> (ColdMarts.clinicalAreas(_)),
    "mart_popular_documents" -> (ColdMarts.popularDocuments(_, withTitle = true)))

  val coldMartNames: Seq[String] = coldMartQueries.map(_._1)

  /** Stage 3 (reference: etl_to_analytics_mart.py): curated → 4 cold marts.
    * The pending curated partitions are read once and shared by the four
    * marts through [[SizeGate.withSlice]], as the hot marts share a
    * micro-batch; each mart is written with dynamic partition overwrite,
    * the four writes concurrently. All four are planned before any runs,
    * so none is planned over a half-filled cache. Marts are partitioned by
    * event_date — every mart's keys include the date, so a mart partition
    * is a function of the same curated partition. Marks the rewritten dates
    * pending for every serving target; returns each mart's row total. */
  def coldMarts(spark: SparkSession, layout: Layout): Map[String, Long] = {
    val h = new Handoff(spark, layout)
    val dates = h.pending(Marts, coldMartNames.exists(n => !h.exists(layout.mart(n))), layout.curated)
    val slice = IncrementalMart.readPartitions(spark, layout.curated, curatedSchema, dates)
    val totals = SizeGate.withSlice(slice) { curated =>
      Fanout.all(spark, coldMartQueries.map { case (name, query) =>
        val mart = query(curated)
        () => {
          if (dates.nonEmpty) IncrementalMart.overwriteTouchedPartitions(mart, layout.mart(name))
          name -> ParquetLayerSink.partitionRows(spark, layout.mart(name), dates).values.sum
        }
      })
    }
    h.servingTargets.foreach(h.mark(_, dates))
    h.consume(Marts, dates)
    totals.toMap
  }

  /** Stage 4 (reference: load_to_postgres.py:46-64 via
    * orchestration/dags/mart/tripclick_load_postgres.py): load each cold
    * mart's pending partitions into the serving database over JDBC with
    * [[JdbcUpsertSink.replacePartitions]], the four marts concurrently. A
    * target table without a pending set yet, or missing, counts as every
    * mart partition pending. Returns the rows this call wrote to each table,
    * not the table sizes: a first load writes every row, a later one the
    * rows of the changed dates. */
  def loadToServing(
      spark: SparkSession,
      layout: Layout,
      jdbcUrl: String,
      props: java.util.Properties = new java.util.Properties()): Map[String, Long] = {
    val h = new Handoff(spark, layout)
    val target = servingTarget(jdbcUrl)
    Fanout.all(spark, coldMartNames.map { name => () =>
      val stage = s"$target/$name"
      val dates = h.pending(stage,
        !h.exists(layout.pending(stage)) || !JdbcUpsertSink.tableExists(jdbcUrl, name, props),
        layout.mart(name))
      val rows = if (dates.isEmpty) 0L else JdbcUpsertSink.replacePartitions(
        IncrementalMart.readPartitions(spark, layout.mart(name), martSchema(spark, name), dates),
        jdbcUrl, name, PartitionCol, dates.map(partitionDate), props)
      h.consume(stage, dates)
      name -> rows
    }).toMap
  }

  /** Full daily cycle. Returns per-stage row counts for assertion/logging. */
  def run(spark: SparkSession, jsonlDir: String, root: String): Map[String, Long] = {
    val layout = Layout(root)
    val rawN = archiveRaw(spark, jsonlDir, layout)
    val curatedN = curate(spark, layout)
    Map("archive_raw" -> rawN, "curated" -> curatedN) ++ coldMarts(spark, layout)
  }

  /** [[run]] under [[Orchestrator]] supervision with the reference DAG's
    * policies (1 retry / 5-min delay / 30-min SLA per batch stage,
    * fail-fast chaining). Stage bodies are idempotent (append of identical
    * re-parsed input is curated away by dedup; the later stages overwrite
    * the partitions their pending markers name, and consume the markers
    * last), so a retry after a partial failure converges. */
  def runManaged(
      spark: SparkSession,
      jsonlDir: String,
      root: String): Seq[Orchestrator.StageReport] = {
    val layout = Layout(root)
    Orchestrator.run(spark, Seq(
      Orchestrator.Stage("archive_raw")(() => { archiveRaw(spark, jsonlDir, layout); () }),
      Orchestrator.Stage("curate")(() => { curate(spark, layout); () }),
      Orchestrator.Stage("cold_marts")(() => { coldMarts(spark, layout); () })))
  }

  private val Curate = "curate"
  private val Marts = "marts"

  /** The pending-set prefix of one serving database: a digest of its URL
    * (which may carry credentials). */
  private def servingTarget(jdbcUrl: String): String =
    "serving/" + java.security.MessageDigest.getInstance("SHA-256")
      .digest(jdbcUrl.getBytes(UTF_8)).take(8).map(b => f"$b%02x").mkString

  /** The curated layer as read back: the partition column last, a date. */
  private val curatedSchema: StructType = StructType(
    TripClick.curatedSchema.filterNot(_.name == PartitionCol) :+ StructField(PartitionCol, DateType))

  /** The archive-raw layer as read back: curated fields + load metadata. */
  private val archiveSchema: StructType = StructType(curatedSchema.init ++ Seq(
    StructField("ingested_at", TimestampType), StructField("ingestion_type", StringType)) :+
    curatedSchema.last)

  /** A cold mart as read back: its query's columns, the partition column last. */
  private def martSchema(spark: SparkSession, name: String): StructType = {
    val query = coldMartQueries.find(_._1 == name).getOrElse(
      throw new IllegalArgumentException(s"unknown cold mart $name"))._2
    val s = query(spark.createDataFrame(java.util.List.of[Row](), curatedSchema)).schema
      .map(_.copy(nullable = true))
    StructType(s.filterNot(_.name == PartitionCol) ++ s.filter(_.name == PartitionCol))
  }

  /** A partition's directory-name value as a JDBC date (null partition → null). */
  private def partitionDate(v: String): java.sql.Date =
    if (v == DEFAULT_PARTITION_NAME) null else java.sql.Date.valueOf(unescapePathName(v))

  /** The pending-partition markers and layer listings of one lake. */
  private final class Handoff(spark: SparkSession, layout: Layout) {
    private val fs: FileSystem =
      new Path(layout.root).getFileSystem(spark.sparkContext.hadoopConfiguration)

    /** The stage's pending dates. A missing output counts as every
      * partition of `source` pending: they are marked first, so a crash
      * part-way through the rebuild leaves them marked. */
    def pending(stage: String, outputMissing: Boolean, source: String): Seq[String] = {
      if (outputMissing) mark(stage, partitions(source))
      markers(stage)
    }

    def markers(stage: String): Seq[String] = {
      val dir = new Path(layout.pending(stage))
      if (!fs.exists(dir)) Nil
      else fs.listStatus(dir).filter(_.isFile).map(_.getPath.getName).sorted.toSeq
    }

    /** Mark `dates` pending for `stage` (creating its marker directory). */
    def mark(stage: String, dates: Seq[String]): Unit = {
      val dir = new Path(layout.pending(stage))
      fs.mkdirs(dir)
      dates.foreach(d => fs.create(new Path(dir, d), true).close())
    }

    def consume(stage: String, dates: Seq[String]): Unit =
      dates.foreach(d => fs.delete(new Path(layout.pending(stage), d), false))

    /** The pending sets of every serving target and mart. */
    def servingTargets: Seq[String] =
      Option(fs.globStatus(new Path(layout.pending("serving/*/*")))).toSeq.flatten
        .map(s => s"serving/${s.getPath.getParent.getName}/${s.getPath.getName}")

    def exists(path: String): Boolean = fs.exists(new Path(path))

    /** Every `event_date` partition of the layer at `path`. */
    def partitions(path: String): Seq[String] = {
      val dir = new Path(path)
      val prefix = s"$PartitionCol="
      if (!fs.exists(dir)) Nil
      else fs.listStatus(dir).filter(_.isDirectory).map(_.getPath.getName)
        .collect { case n if n.startsWith(prefix) => n.stripPrefix(prefix) }.sorted.toSeq
    }
  }
}
