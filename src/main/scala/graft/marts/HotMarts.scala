package graft.marts

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The four hot (streaming micro-batch) mart queries
  * (reference: processing/spark/jobs/streaming_to_analytics_mart_realtime.py —
  * SURVEY.md §2.6 #5-8), written batch-shaped so the same transform runs
  * inside `foreachBatch` (hot path) and over the full curated layer (backfill
  * / verification path). The reference computes each of these per-micro-batch
  * on a cached batch frame (RT:345-370); we keep that contract — callers cache
  * the batch once and fan out.
  */
object HotMarts {

  /** #5 mart_realtime_traffic_minute (reference: RT:186-206): per-minute
    * clicks / unique sessions / unique docs. `updated_at` is added by the
    * sink wrapper, not here — keeping wall-clock out of the transform makes
    * micro-batch replay deterministic (SURVEY.md §7.4). Its two distincts
    * count through [[ColdMarts.distinctCounter]]. */
  def trafficPerMinute(clicks: DataFrame, exact: Boolean = true): DataFrame = {
    val distinct = ColdMarts.distinctCounter(clicks, exact)
    clicks
      .groupBy(date_trunc("minute", col("event_ts")).as("event_minute"))
      .agg(
        count(lit(1)).as("total_clicks"),
        distinct(col("session_id")).as("unique_sessions"),
        distinct(col("document_id")).as("unique_docs"))
  }

  /** #6 mart_realtime_top_docs (reference: RT:209-240): global top-K documents
    * by click count with a dense 1..K `rank`.
    *
    * The reference ranks with a global (single-partition) window over the full
    * aggregate — a scale hazard. Here the aggregate is first reduced with
    * `orderBy(...).limit(k)`, which Spark plans as TakeOrderedAndProject
    * (per-partition top-K heaps + driver merge, no global sort shuffle); the
    * window then runs over ≤ K rows. Ties break on document_id ascending for
    * determinism. */
  def topDocs(clicks: DataFrame, k: Int = 20, exact: Boolean = true): DataFrame = {
    val counts = clicks.groupBy("document_id")
      .agg(
        count(lit(1)).as("click_count"),
        ColdMarts.distinctCount(col("session_id"), exact).as("unique_sessions"))
      .orderBy(desc("click_count"), col("document_id"))
      .limit(k)
    counts.withColumn("rank",
      row_number().over(Window.orderBy(desc("click_count"), col("document_id"))))
  }

  /** #7 mart_realtime_clinical_trend (reference: RT:243-270) — but with
    * `trend_pct` actually implemented (the reference stubs it to 0.0 at
    * RT:266 while its DDL promises day-over-day %,
    * mart/postgres/init/01_create_tables.sql:50). Day-over-day percent change
    * per category via a lag window partitioned by the category — shuffles once
    * on the category key, state per partition is one previous row. */
  def categoryTrend(
      counts: DataFrame,
      categoryCol: String,
      dateCol: String,
      valueCol: String): DataFrame = {
    val w = Window.partitionBy(categoryCol).orderBy(col(dateCol))
    val prev = lag(col(valueCol), 1).over(w)
    counts.withColumn("trend_pct",
      round((col(valueCol) - prev) * lit(100.0) / prev, 2))
  }

  /** #8 mart_realtime_anomaly_sessions (reference: RT:273-304): tumbling-window
    * per-session click bursts with WARNING/CRITICAL severity.
    *
    * `window()` buckets are epoch-aligned tumbling windows; the groupBy
    * shuffles on (bucket, session) once. Thresholds are parameters because the
    * reference's 50/100 are tuned to its traffic compression. */
  def anomalySessions(
      clicks: DataFrame,
      windowDuration: String = "5 minutes",
      warnAt: Long = 50,
      criticalAt: Long = 100): DataFrame =
    clicks
      .groupBy(window(col("event_ts"), windowDuration).as("w"), col("session_id"))
      .agg(count(lit(1)).as("event_count"))
      .filter(col("event_count") >= warnAt)
      .select(
        col("w.start").as("window_start"),
        col("w.end").as("window_end"),
        col("session_id"),
        col("event_count"),
        when(col("event_count") >= criticalAt, "CRITICAL")
          .otherwise("WARNING").as("severity"))
}
