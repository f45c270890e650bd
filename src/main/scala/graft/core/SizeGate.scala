package graft.core

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.internal.SQLConf

/** One size policy for "is this input small enough to handle in one task".
  * Every single-task / one-partition choice in the engine asks it.
  *
  * The budget is Spark's own `spark.sql.adaptive.advisoryPartitionSizeInBytes`
  * (AQE's target bytes per post-shuffle task, 64 MB by default): a frame at
  * or under it would be coalesced into one partition by AQE anyway, so
  * handling it in one task costs no parallelism. Lowering it does not change
  * file-scan splitting, so at `1` every consumer below takes its scale-out
  * branch over the same inputs.
  *
  * The size is measured where the caller has materialized the frame
  * ([[materialized]]): a persisted frame whose every partition is cached
  * re-plans as an `InMemoryRelation` whose statistics are the cache's
  * bytes and row count. Anything else is the optimizer's estimate. When the statistics carry a
  * row count, the size is at least rows × the decoded row width, so
  * columnar compression cannot admit more rows than one task holds decoded.
  *
  * Worst-case in-task footprint at the 64 MB default, per consumer:
  *  - hot stream batch (`HotMartStreamJob.start`): the batch as one
  *    partition, ≤ 64 MB of rows under the four marts' aggregates.
  *  - `ColdMarts.distinctCounter` (`trafficPerMinute`, `dailyTraffic`):
  *    per-group sets of session and document ids, bounded by the input.
  *  - `Dedup.componentLabels`: a long (a, b) edge decodes to 24 B, so
  *    ≤ 2.8M symmetrized edges; the union-find holds ≤ 2.8M nodes
  *    (~130 MB of `LongMap`) and the broadcast label frame ≤ 2.8M rows.
  *  - `Graphs.hits`: ≤ 1.4M buffered string pairs (48 B decoded each, more
  *    for long ids, up to the cached bytes), a few hundred MB as JVM
  *    strings plus the two score maps.
  *  - `Relational.distributedCumSum`: one running-window task over
  *    ≤ 64 MB of rows, which spills.
  */
object SizeGate {

  /** The byte budget of one task: `spark.sql.adaptive.advisoryPartitionSizeInBytes`. */
  def budget(spark: SparkSession): Long =
    spark.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)

  /** Bytes of `df`: measured when it is a filled cache, else estimated.
    * The plan is made afresh: a Dataset keeps the statistics it was
    * planned with, from before its cache was filled. */
  def sizeInBytes(df: DataFrame): BigInt = {
    val plan = df.sparkSession.sessionState
      .executePlan(df.queryExecution.analyzed).optimizedPlan
    val stats = plan.stats
    stats.rowCount.fold(stats.sizeInBytes)(rows =>
      stats.sizeInBytes.max(rows * EstimationUtils.getSizePerRow(plan.output)))
  }

  /** `df` persisted and filled, so [[fits]] reads its measured size. The
    * fill is one pass with no aggregate: a `count()` would add two AQE
    * stage jobs. */
  def materialized(df: DataFrame): DataFrame = {
    df.persist().foreachPartition((_: Iterator[Row]) => ())
    df
  }

  /** True when `df` fits the budget of one task. */
  def fits(df: DataFrame): Boolean = sizeInBytes(df) <= budget(df.sparkSession)

  /** `df` as one partition (`coalesce(1)`, no shuffle) when it fits one
    * task, else `df` unchanged. A one-partition child satisfies every
    * required distribution, so aggregates, windows and joins over it plan
    * with no `Exchange`. */
  def onePartitionIfSmall(df: DataFrame): DataFrame =
    if (fits(df)) df.coalesce(1) else df
}
