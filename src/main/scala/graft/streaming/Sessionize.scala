package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Gap-based sessionization — the operator family the reference never
  * needed (its SessionIds are upstream-assigned) but a complete engine
  * must offer.
  *
  *  - [[sessionWindowAgg]]: Spark's native merging `session_window`; runs
  *    batch or streaming (with a watermark, bounded state on an unbounded
  *    stream).
  *  - [[sessionizeBatch]]: batch, pure window functions (lag → gap flag →
  *    running session index → aggregate) — one shuffle on the user key,
  *    fully declarative so Catalyst/AQE own the physical plan; exact for any
  *    ordering since it sees all data.
  */
object Sessionize {

  /** Sessionization via Spark's NATIVE `session_window` operator: built-in
    * merging session windows; works in both batch and streaming with a
    * watermark, complete/update/append per Spark's rules.
    *
    * Semantics (verified empirically, StreamJoinSpec): `session_window`
    * merges an event landing EXACTLY at the current window end (gap
    * inclusive — same merge rule as [[sessionizeBatch]]'s `> gap` new-
    * session flag), and its `window.end` is last_event + gap, not
    * last_event. Kept as Spark defines them — the point of this variant is
    * built-in fidelity.
    * Output: user_id, session_start, session_end, n_events. */
  def sessionWindowAgg(
      clicks: DataFrame,
      gap: String = "30 minutes",
      userCol: String = "user_id",
      tsCol: String = "event_ts",
      watermark: Option[String] = None): DataFrame = {
    val src = watermark.fold(clicks)(clicks.withWatermark(tsCol, _))
    src
      .groupBy(col(userCol), session_window(col(tsCol), gap).as("__w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col(userCol), col("__w.start").as("session_start"),
        col("__w.end").as("session_end"), col("n_events"))
  }

  /** Batch sessionization over a frame with `user_id` + `event_ts` columns.
    * Output: user_id, session_idx (1-based per user), session_start,
    * session_end, n_events. */
  def sessionizeBatch(
      clicks: DataFrame,
      gapSeconds: Long = 1800,
      userCol: String = "user_id",
      tsCol: String = "event_ts"): DataFrame = {
    val byUser = Window.partitionBy(userCol).orderBy(tsCol)
    val gapFlag = when(
      unix_timestamp(col(tsCol)) - unix_timestamp(lag(col(tsCol), 1).over(byUser))
        > gapSeconds, 1L).otherwise(0L)
    clicks
      .withColumn("__new_session", gapFlag)
      .withColumn("session_idx",
        sum(col("__new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0))
          .cast(LongType) + 1)
      .groupBy(col(userCol), col("session_idx"))
      .agg(
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"),
        count(lit(1)).as("n_events"))
  }
}
