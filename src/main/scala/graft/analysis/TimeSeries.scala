package graft.analysis

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Per-key time-series analytics: streaks, smoothing, level shifts.
  *
  * All three operators are single window passes partitioned by the series
  * key — the shuffle moves each key's rows once, work per key is linear in
  * its row count, and everything stays inside whole-stage codegen (no
  * arrays, no UDFs). That is the shape that survives 100 TB: a series with
  * 10^9 keys parallelizes across the cluster, and no operator here ever
  * needs a key's full history in memory at once (running frames only).
  *
  * Reference behavior anchor: the reference's realtime marts track per-key
  * counts over time windows (processing/spark/jobs/
  * streaming_to_analytics_mart_realtime.py:194-226); these operators are the
  * batch-analytics
  * continuations of the same per-key series.
  */
object TimeSeries {

  /** Seasonal-naive anomaly detection: compare each (day, hour) load
    * against the MEDIAN load of that hour-of-day across all days — the
    * ops-monitoring baseline that catches "3am looks like 3pm" without any
    * model fit, robust to the handful of genuinely anomalous days that
    * would poison a mean baseline. One aggregate to (day, hour) grain, one
    * median per hour (24-row broadcast), then a projection.
    * Output: event_date, hour, n, baseline_median, ratio (round 4),
    * anomalous (n > factor·median). */
  def seasonalAnomalies(
      events: DataFrame, tsCol: String, factor: Double = 2.0): DataFrame = {
    val hourly = events
      .groupBy(to_date(col(tsCol)).as("event_date"), hour(col(tsCol)).as("hour"))
      .agg(count(lit(1)).as("n"))
    val base = hourly.groupBy("hour")
      .agg(percentile(col("n"), lit(0.5)).as("baseline_median"))
    hourly.join(broadcast(base), "hour")
      .select(col("event_date"), col("hour"), col("n"),
        col("baseline_median"),
        round(col("n") / col("baseline_median"), 4).as("ratio"),
        (col("n") > lit(factor) * col("baseline_median")).as("anomalous"))
  }

  /** Gaps-and-islands: maximal runs of CONSECUTIVE active days per key.
    *
    * The classic row_number trick: within a key, day - row_number(day) is
    * constant exactly over a run of consecutive days, so one window pass +
    * one aggregate finds every island — no self-join, no iteration.
    * Output: key, streak_start, streak_end, len_days. */
  def activityStreaks(
      df: DataFrame, keyCol: String, dayCol: String): DataFrame = {
    val active = df.select(col(keyCol).as("key"), col(dayCol).as("day")).distinct()
    val w = Window.partitionBy("key").orderBy("day")
    active
      .withColumn("grp", date_sub(col("day"), row_number().over(w)))
      .groupBy("key", "grp")
      .agg(min("day").as("streak_start"), max("day").as("streak_end"),
        count(lit(1)).as("len_days"))
      .drop("grp")
  }

  /** Windowed EWMA: exponentially-weighted moving average of `valCol` over
    * the last `lookback` rows per key, weights (1-alpha)^lag normalized to
    * sum 1 within the frame.
    *
    * Implemented as two running sums — x·(1-alpha)^(-rn) and its weight
    * twin — so the whole thing is one codegen'd window pass: no arrays, no
    * higher-order functions, and an external SQL engine reproduces it
    * bit-for-bit. The (1-alpha)^(-rn) rescaling grows with row number;
    * with the bounded `lookback` this is exact and safe to ~1400 rows per
    * key at alpha=0.3 (double overflows ~1e308); longer series should be
    * smoothed in calendar chunks with the frame re-anchored per chunk. */
  def ewma(
      df: DataFrame, keyCol: String, orderCol: String, valCol: String,
      alpha: Double = 0.3, lookback: Int = 14): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    val r = 1.0 / (1.0 - alpha)
    val wOrd = Window.partitionBy(keyCol).orderBy(orderCol)
    val wFrame = wOrd.rowsBetween(-(lookback - 1), Window.currentRow)
    df
      .withColumn("__rn", row_number().over(wOrd))
      .withColumn("__scale", pow(lit(r), col("__rn")))
      .withColumn("ewma",
        round(sum(col(valCol) * col("__scale")).over(wFrame) /
          sum(col("__scale")).over(wFrame), 4))
      .drop("__rn", "__scale")
  }

  /** Exponentially time-decayed popularity: each event contributes
    * 0.5^(age/halfLife), so an item's score halves every `halfLifeDays`
    * without any state or windowing — just a projection and one grouped
    * sum. This is the standard recency-weighted ranking trick: computable
    * in one pass at any scale. Terms are DECIMAL-cast before the
    * sum so the total is shuffle-order-independent.
    * Output: itemCol, score (round 4), n_events. */
  def decayedPopularity(
      df: DataFrame, itemCol: String, tsCol: String,
      asOf: Column, halfLifeDays: Double = 7.0): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 12)
    val ageDays = (unix_timestamp(asOf) - unix_timestamp(col(tsCol)))
      .cast("double") / lit(86400.0)
    df
      .withColumn("__w", pow(lit(0.5), ageDays / lit(halfLifeDays)).cast(dec))
      .groupBy(itemCol)
      .agg(round(sum("__w").cast("double"), 4).as("score"),
        count(lit(1)).as("n_events"))
  }

  /** Per-group ordinary-least-squares trend: slope and intercept of value
    * over an x index, via the closed form
    * slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²) with every Σ accumulated in
    * DECIMAL — unlike `regr_slope`'s double accumulators, the result is
    * bit-stable across partitionings and engines. One grouped aggregate;
    * groups with a degenerate x variance yield null slope.
    * Output: groupCol, n, slope (round 6), intercept (round 6). */
  def trendSlopes(
      df: DataFrame, groupCol: String, xCol: String, yCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val x = col(xCol).cast(dec)
    val y = col(yCol).cast(dec)
    val agg = df.groupBy(groupCol).agg(
      count(lit(1)).as("n"),
      sum(x).as("sx"), sum(y).as("sy"),
      sum((x * y).cast(dec)).as("sxy"), sum((x * x).cast(dec)).as("sxx"))
    val n = col("n").cast("double")
    val denom = n * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val slope = (n * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")) / denom
    agg.select(col(groupCol), col("n"),
      round(when(denom =!= 0.0, slope), 6).as("slope"),
      round(when(denom =!= 0.0,
        (col("sy").cast("double") - slope * col("sx").cast("double")) / n), 6)
        .as("intercept"))
  }

  /** Level-shift detection: days where the trailing `width`-row mean jumped
    * by more than `threshold` versus the preceding `width`-row mean.
    * CUSUM-style changepoint flagging recast as two running means — window
    * frames instead of a sequential scan, so it distributes per key.
    * Output: input columns + before_mean, after_mean, shift (flagged rows
    * only; the first/last `width`-1 rows have incomplete frames and are
    * exempted, as a sequential CUSUM's burn-in would be). */
  def levelShifts(
      df: DataFrame, keyCol: String, orderCol: String, valCol: String,
      width: Int = 7, threshold: Double = 1.0): DataFrame = {
    val wOrd = Window.partitionBy(keyCol).orderBy(orderCol)
    val after = wOrd.rowsBetween(Window.currentRow, width - 1)
    val before = wOrd.rowsBetween(-width, -1)
    df
      .withColumn("__na", count(lit(1)).over(after))
      .withColumn("__nb", count(lit(1)).over(before))
      .withColumn("before_mean", round(avg(col(valCol)).over(before), 4))
      .withColumn("after_mean", round(avg(col(valCol)).over(after), 4))
      .filter(col("__na") === width && col("__nb") === width)
      .withColumn("shift", round(col("after_mean") - col("before_mean"), 4))
      .filter(abs(col("shift")) > threshold)
      .drop("__na", "__nb")
  }

  /** Burstiness per key: the Fano factor (variance-to-mean ratio) of the
    * key's hourly event counts over observed (date, hour) buckets. A
    * Poisson-steady stream has VMR ≈ 1; VMR ≫ 1 is bursty (flash crowds,
    * crawler storms — the traffic that needs the q08 anomaly mart and the
    * skew machinery), VMR ≪ 1 is metronomic (bot heartbeat).
    *
    * Scale shape: one bucket aggregate (key × date × hour granularity)
    * then one key-level aggregate; Σx and Σx² stay INTEGER until the final
    * divisions, so engines agree exactly. Population variance
    * E[x²] − E[x]², both expectations divided in DOUBLE in a fixed order.
    * Output: one row per key — n_buckets, mean (round 6), vmr (round 6). */
  def burstiness(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      dateCol: String): DataFrame = {
    val hourly = df
      .groupBy(col(keyCol), col(dateCol).as("d"), hour(col(tsCol)).as("h"))
      .agg(count(lit(1)).as("x"))
    hourly
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_buckets"), sum("x").as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col(keyCol), col("n_buckets"),
        round((col("sx").cast(DoubleType) / col("n_buckets")), 6).as("mean"),
        round(
          (col("sxx").cast(DoubleType) / col("n_buckets") -
            (col("sx").cast(DoubleType) / col("n_buckets")) *
              (col("sx").cast(DoubleType) / col("n_buckets"))) /
            (col("sx").cast(DoubleType) / col("n_buckets")),
          6).as("vmr"))
      .orderBy(keyCol)
  }

  /** One-sided upper CUSUM over the hourly event-count series — the EXACT
    * sequential changepoint statistic (Page 1954): Sₜ = max(0, Sₜ₋₁ + xₜ −
    * μ − kσ), alarmed when Sₜ > hσ. [[levelShifts]] is the two-window
    * APPROXIMATION of this; the recursion itself looks
    * window-inexpressible, but the closed form Sₜ = Rₜ − min(0, min_{j≤t}
    * Rⱼ) with Rₜ the running sum of the slack-adjusted deviations turns it
    * into one cumulative sum plus one running min — pure window algebra,
    * no driver loop, no UDAF.
    *
    * Scale shape: the hourly aggregate is the only data-sized step; μ/σ
    * come from DECIMAL-exact power sums (one 1-row broadcast), and the R
    * cumsum runs over DECIMAL-cast terms on the HOURS-sized dense spine
    * (absent hours are true zeros — a gap IS a negative drift).
    * Output per hour: h, x, cusum (round 6), alarm. */
  def cusum(
      events: DataFrame,
      tsCol: String = "event_ts",
      k: Double = 0.5,
      h: Double = 4.0): DataFrame = {
    require(k >= 0 && h > 0, s"need k >= 0 and h > 0, got k=$k h=$h")
    val dec = DecimalType(28, 12)
    val hourly = events
      .select(expr(s"unix_timestamp(`$tsCol`) div 3600").as("h"))
      .groupBy("h").agg(count(lit(1)).as("x"))
    val spine = hourly.agg(min("h").as("h0"), max("h").as("h1"))
      .select(explode(sequence(col("h0"), col("h1"))).as("h"))
    val series = spine.join(hourly, Seq("h"), "left")
      .select(col("h"), coalesce(col("x"), lit(0L)).as("x"))
    val stats = series.agg(
        count(lit(1)).as("n"),
        sum(col("x").cast(dec)).cast(DoubleType).as("s1"),
        sum((col("x") * col("x")).cast(dec)).cast(DoubleType).as("s2"))
      .select(
        (col("s1") / col("n").cast(DoubleType)).as("m"),
        sqrt(col("s2") / col("n").cast(DoubleType)
          - (col("s1") / col("n").cast(DoubleType))
            * (col("s1") / col("n").cast(DoubleType))).as("sd"))
    val wCum = Window.orderBy("h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    series.crossJoin(broadcast(stats))
      .withColumn("d",
        (col("x").cast(DoubleType) - col("m") - lit(k) * col("sd")).cast(dec))
      .withColumn("r", sum(col("d")).over(wCum))
      .withColumn("rmin", least(lit(0.0).cast(dec), min(col("r")).over(wCum)))
      .withColumn("cus_raw", (col("r") - col("rmin")).cast(DoubleType))
      .select(col("h"), col("x"),
        round(col("cus_raw"), 6).as("cusum"),
        (col("cus_raw") > lit(h) * col("sd")).as("alarm"))
  }

  /** AUTOCORRELATION of the hourly event-count series at caller-chosen
    * lags — r(L) = Σ(xₜ−m)(xₜ₊L−m) / Σ(xₜ−m)² over a DENSE hourly spine
    * (absent hours are true zeros, not missing rows — skipping them
    * silently shifts every lag). r(24) ≈ 1 certifies the diurnal cycle;
    * r(24) collapsing while volume holds flags traffic whose rhythm broke
    * (bots, replays) before any volume monitor fires.
    *
    * Scale shape: the hourly aggregate is the only data-sized step
    * (map-side combinable); the spine, lead windows, and DECIMAL-cast
    * product sums all run over the HOURS-sized series. Hour buckets use
    * integer `div` on floor(epoch) — exact, the q102 parity rule.
    *
    * Output per lag: lag, n_hours, r (round 6; null when the series is
    * constant — zero variance). */
  def autocorrelation(
      events: DataFrame,
      tsCol: String = "event_ts",
      lags: Seq[Int] = Seq(1, 24)): DataFrame = {
    require(lags.nonEmpty && lags.forall(_ >= 1), s"need positive lags, got $lags")
    val dec = DecimalType(28, 12)
    val hourly = events
      .select(expr(s"unix_timestamp(`$tsCol`) div 3600").as("h"))
      .groupBy("h").agg(count(lit(1)).as("x"))
    val spine = hourly.agg(min("h").as("h0"), max("h").as("h1"))
      .select(explode(sequence(col("h0"), col("h1"))).as("h"))
    val series = spine.join(hourly, Seq("h"), "left")
      .select(col("h"), coalesce(col("x"), lit(0L)).as("x"))
    val m = series.agg(
      (sum(col("x").cast(dec)).cast(DoubleType) / count(lit(1))).as("m"))
    val w = Window.orderBy("h")
    var cur = series.crossJoin(broadcast(m))
    lags.foreach(l => cur = cur.withColumn(s"x_$l", lead(col("x"), l).over(w)))
    val d = col("x").cast(DoubleType) - col("m")
    val aggs =
      sum((d * d).cast(dec)).cast(DoubleType).as("den") +:
        lags.map(l => sum(when(col(s"x_$l").isNotNull,
          (d * (col(s"x_$l").cast(DoubleType) - col("m"))).cast(dec)))
          .cast(DoubleType).as(s"num_$l"))
    // eager 1-row checkpoint: each union branch below would otherwise
    // re-run the data-sized hourly aggregate
    val row = cur.agg(count(lit(1)).as("n_hours"), aggs: _*).localCheckpoint(true)
    lags.map { l =>
      row.select(lit(l).as("lag"), col("n_hours"),
        when(col("den") > 0, round(col(s"num_$l") / col("den"), 6)).as("r"))
    }.reduce(_ unionByName _)
  }

  /** KAPLAN–MEIER survival curve over per-key dwell durations, with
    * end-of-log right-censoring: a key whose last activity falls within
    * `censorHorizonSec` of the log's end may still be live, so it
    * contributes at-risk time but no death event — the estimator the
    * naive "1 − ECDF" silently gets wrong on every open-ended log.
    * S(t) = Π_{tᵢ ≤ t, dᵢ > 0} (nᵢ − dᵢ)/nᵢ over event times tᵢ with
    * dᵢ deaths among nᵢ at risk.
    *
    * Scale shape: one grouped min/max per key (map-side combinable), the
    * log-end scalar rides a 1-row broadcast cross join, and everything
    * after runs over the DISTINCT-DURATION frame (report-sized). The
    * product is exp(Σ ln fᵢ) with DECIMAL-summed terms: each factor is an
    * integer-over-integer IEEE divide (identical on any engine), and the
    * 6dp round happens after the exp, the q151 recipe.
    *
    * Output per distinct duration: t_sec, n_at_risk, d_events, c_censored,
    * survival (round 6). */
  def kmSurvival(
      events: DataFrame,
      keyCol: String = "session_id",
      tsCol: String = "event_ts",
      censorHorizonSec: Long = 3600L): DataFrame = {
    require(censorHorizonSec >= 0, s"need censorHorizonSec >= 0, got $censorHorizonSec")
    val dec = DecimalType(28, 12)
    val perKey = events.groupBy(col(keyCol))
      .agg((unix_timestamp(max(col(tsCol))) - unix_timestamp(min(col(tsCol))))
          .as("t_sec"),
        unix_timestamp(max(col(tsCol))).as("last_s"))
    val logEnd = perKey.agg(max("last_s").as("log_end"))
    val flagged = perKey.crossJoin(logEnd)
      .select(col("t_sec"),
        when(col("last_s") > col("log_end") - censorHorizonSec, 1L).otherwise(0L).as("c"),
        when(col("last_s") > col("log_end") - censorHorizonSec, 0L).otherwise(1L).as("d"))
    val byT = flagged.groupBy("t_sec")
      .agg(sum("d").as("d_events"), sum("c").as("c_censored"))
    val wOrd = Window.orderBy("t_sec")
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    byT
      .withColumn("n_total", sum(col("d_events") + col("c_censored")).over(wAll))
      .withColumn("cum", sum(col("d_events") + col("c_censored")).over(wCum))
      // at risk at t = everyone not yet dead or censored strictly before t
      .withColumn("n_at_risk",
        col("n_total") - col("cum") + col("d_events") + col("c_censored"))
      // a time where EVERYONE at risk dies zeroes the curve permanently —
      // handled as an explicit absorbing flag so no ln(0) ever enters the
      // DECIMAL sum (the cast would null it out and silently skip the step)
      .withColumn("ln_f",
        when(col("d_events") > 0 && col("d_events") < col("n_at_risk"),
          log((col("n_at_risk") - col("d_events")).cast(DoubleType)
            / col("n_at_risk").cast(DoubleType)))
          .otherwise(lit(0.0)))
      .withColumn("dead",
        max(when(col("d_events") === col("n_at_risk") && col("d_events") > 0, 1)
          .otherwise(0)).over(wCum))
      .withColumn("survival",
        when(col("dead") === 1, lit(0.0))
          .otherwise(round(exp(sum(col("ln_f").cast(dec)).over(wCum).cast(DoubleType)), 6)))
      .select("t_sec", "n_at_risk", "d_events", "c_censored", "survival")
  }
}
