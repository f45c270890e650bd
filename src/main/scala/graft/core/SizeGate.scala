package graft.core

import org.apache.spark.sql.DataFrame

/** One size policy for "is this input small enough to handle in one task".
  *
  * The budget is Spark's own `spark.sql.files.maxPartitionBytes`, the size of
  * one file split: input the optimizer estimates at or under it would have
  * been read by one task anyway, so running it as one partition costs no
  * parallelism. The payoff is in the plans above it: a one-partition child
  * satisfies every required distribution, so aggregates, windows and joins
  * over it plan with no `Exchange`, and under AQE no extra shuffle jobs.
  * Larger inputs are left as they are.
  */
object SizeGate {

  /** True when the optimizer's size estimate of `df` fits one file split. */
  def fitsOneSplit(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.stats.sizeInBytes <=
      df.sparkSession.sessionState.conf.filesMaxPartitionBytes

  /** `df` as one partition (`coalesce(1)`, no shuffle) when it fits one
    * file split, else `df` unchanged. */
  def onePartitionIfSmall(df: DataFrame): DataFrame =
    if (fitsOneSplit(df)) df.coalesce(1) else df
}
