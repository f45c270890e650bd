package graft.marts

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.SizeGate

/** The four cold (batch, full-recompute) mart queries
  * (reference: processing/spark/jobs/etl_to_analytics_mart.py — semantics in
  * SURVEY.md §2.6 #1-4), written as reusable DataFrame→DataFrame transforms
  * over the canonical click-frame vocabulary:
  * `session_id, document_id, event_ts (timestamp), event_date (date)`.
  *
  * Scale posture: every mart is a single hash-aggregate over the click-frame —
  * Catalyst plans partial (map-side) + final aggregation, so the shuffle
  * carries only group keys + partial states, never raw rows. The daily
  * cold stage runs the four over its pending days through
  * [[graft.core.SizeGate.withSlice]], as the hot job runs its marts over a
  * micro-batch: a slice that fits one task is one partition, and the marts
  * over it plan no shuffle. Distinct counts are exact: per-group
  * `countDistinct`, which Spark executes as a two-phase aggregate (through
  * an Expand when one query counts two), or set sizes on one task
  * ([[distinctCounter]]).
  */
object ColdMarts {

  /** #1 mart_session_analysis (reference: etl_to_analytics_mart.py:91-111):
    * per (session, day): click count, distinct docs, first/last click,
    * duration in whole seconds. */
  def sessionAnalysis(clicks: DataFrame): DataFrame =
    clicks.groupBy("session_id", "event_date")
      .agg(
        count(lit(1)).as("click_count"),
        countDistinct(col("document_id")).as("unique_docs"),
        min(col("event_ts")).as("first_click_ts"),
        max(col("event_ts")).as("last_click_ts"))
      .withColumn("session_duration_sec",
        (unix_timestamp(col("last_click_ts")) - unix_timestamp(col("first_click_ts")))
          .cast(LongType))

  /** #2 mart_daily_traffic (reference: etl_to_analytics_mart.py:120-152):
    * daily totals left-joined with the argmax-by-hour "peak hour".
    *
    * The reference's `row_number` over `desc(hourly_count)` alone is
    * nondeterministic on ties (SURVEY.md §7.4); we add `hour` ascending as the
    * tie-break. The peak-hour side collapses to ≤ (days × 24) rows, so
    * Catalyst auto-broadcasts the join — no shuffle on the join itself. */
  def dailyTraffic(clicks: DataFrame): DataFrame = {
    val hourly = clicks
      .groupBy(col("event_date"), hour(col("event_ts")).as("peak_hour"))
      .agg(count(lit(1)).as("hourly_count"))
    val w = Window.partitionBy("event_date").orderBy(desc("hourly_count"), asc("peak_hour"))
    val peak = hourly
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select("event_date", "peak_hour")
    val distinct = distinctCounter(clicks)
    val daily = clicks.groupBy("event_date").agg(
      count(lit(1)).as("total_events"),
      distinct(col("session_id")).as("unique_sessions"),
      distinct(col("document_id")).as("unique_documents"))
    daily.join(peak, Seq("event_date"), "left")
  }

  /** #3 mart_clinical_areas (reference: etl_to_analytics_mart.py:161-177),
    * generalized: explode a separator-joined multi-value column, trim, drop
    * empties, count occurrences + distinct sessions per (extra keys, value).
    *
    * `explode(split(...))` is the built-in generator path — no custom
    * Generator/UDTF; stays in whole-stage codegen. */
  def multiValueCounts(
      df: DataFrame,
      multiCol: String,
      sep: String,
      sessionCol: String,
      extraKeys: Seq[String] = Nil,
      valueName: String = "clinical_area"): DataFrame = {
    val exploded = df
      .filter(col(multiCol).isNotNull && col(multiCol) =!= "")
      .select((extraKeys :+ sessionCol).map(col) :+
        // sep is a literal separator, not a regex — quote it (an unquoted
        // "|" or "." would silently split per character)
        explode(split(col(multiCol), java.util.regex.Pattern.quote(sep))).as(valueName): _*)
      .withColumn(valueName, trim(col(valueName)))
      .filter(col(valueName) =!= "")
    exploded
      .groupBy((extraKeys :+ valueName).map(col): _*)
      .agg(
        count(lit(1)).as("search_count"),
        countDistinct(col(sessionCol)).as("unique_sessions"))
  }

  /** #3 with the reference's exact shape: per (event_date, clinical_area). */
  def clinicalAreas(clicks: DataFrame): DataFrame =
    multiValueCounts(clicks, "clinical_areas", ",", "session_id",
      extraKeys = Seq("event_date"))

  /** #4 mart_popular_documents (reference: etl_to_analytics_mart.py:185-197):
    * per (day, document [, title]) view counts, ordered by day then views. */
  def popularDocuments(clicks: DataFrame, withTitle: Boolean = false): DataFrame = {
    val keys = if (withTitle) Seq("event_date", "document_id", "title")
               else Seq("event_date", "document_id")
    clicks.groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("view_count"),
        countDistinct(col("session_id")).as("unique_sessions"))
      .orderBy(col("event_date"), desc("view_count"), col("document_id"))
  }

  /** The distinct counter of a query that counts two distincts. Two exact
    * distincts plan as Expand + two aggregates. Expand's output
    * partitioning is unknown, so even one partition pays two shuffles, and
    * its projection order follows the hash of expression ids, so the same
    * query generates different classes from one build to the next and
    * recompiles them. Input that fits one task ([[graft.core.SizeGate]])
    * counts set sizes instead: one aggregate, no Expand, the same classes
    * on every build, with sets bounded by the gate's budget. Larger input
    * keeps the distinct aggregates, which spill. */
  private[graft] def distinctCounter(clicks: DataFrame): Column => Column =
    if (SizeGate.fits(clicks)) c => size(collect_set(c)).cast("long")
    else countDistinct(_)
}
