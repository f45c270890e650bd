package graft

import java.sql.Date

import org.apache.spark.sql.functions._

import graft.analysis.TimeSeries

class TimeSeriesSpec extends SparkSpec {
  import spark.implicits._

  private def d(s: String) = Date.valueOf(s)

  test("activity streaks: islands split on gaps, duplicates collapse") {
    val df = Seq(
      ("u1", "2024-01-01"), ("u1", "2024-01-02"), ("u1", "2024-01-03"),
      ("u1", "2024-01-03"), // duplicate day must not break the island
      ("u1", "2024-01-05"),
      ("u2", "2024-01-10")
    ).toDF("u", "day").select(col("u"), to_date(col("day")).as("day"))
    val out = TimeSeries.activityStreaks(df, "u", "day")
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getDate(2).toString, r.getLong(3)))
      .toSet
    assert(out === Set(
      ("u1", "2024-01-01", "2024-01-03", 3L),
      ("u1", "2024-01-05", "2024-01-05", 1L),
      ("u2", "2024-01-10", "2024-01-10", 1L)))
  }

  test("ewma: first row is the raw value, weights decay geometrically") {
    val df = Seq(("k", 1, 10.0), ("k", 2, 20.0), ("k", 3, 20.0))
      .toDF("k", "t", "v")
    val out = TimeSeries.ewma(df, "k", "t", "v", alpha = 0.5, lookback = 14)
      .orderBy("t").collect().map(_.getAs[Double]("ewma"))
    assert(out(0) === 10.0) // single-row frame: weight normalizes to 1
    // row 2: weights (0.5, 1)/1.5 → (10*0.5 + 20)/1.5 = 16.6667
    assert(out(1) === 16.6667)
    // row 3: weights (0.25, 0.5, 1)/1.75 → (2.5 + 10 + 20)/1.75 = 18.5714
    assert(out(2) === 18.5714)
  }

  test("ewma lookback bounds the frame") {
    val df = (1 to 10).map(i => ("k", i, if (i == 1) 1000.0 else 0.0))
      .toDF("k", "t", "v")
    val out = TimeSeries.ewma(df, "k", "t", "v", alpha = 0.5, lookback = 3)
      .orderBy("t").collect().map(_.getAs[Double]("ewma"))
    assert(out(2) > 0.0)   // spike still inside the 3-row frame
    assert(out(3) === 0.0) // spike aged out exactly at the bound
  }

  test("decayed popularity: half-life weighting, exact at the knots") {
    val df = Seq(
      (1L, "2024-01-08 00:00:00"), // exactly asOf -> weight 1.0
      (1L, "2024-01-01 00:00:00"), // one half-life old -> 0.5
      (2L, "2023-12-25 00:00:00")  // two half-lives -> 0.25
    ).toDF("item", "ts").select(col("item"), to_timestamp(col("ts")).as("ts"))
    val out = TimeSeries.decayedPopularity(df, "item", "ts",
        asOf = to_timestamp(lit("2024-01-08 00:00:00")), halfLifeDays = 7.0)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(out(1L) === ((1.5, 2L)))
    assert(out(2L) === ((0.25, 1L)))
  }

  test("trend slopes: exact line recovered, degenerate x gives null") {
    val line = (0 to 9).map(x => ("up", x, 2 * x + 1)).toDF("g", "x", "y")
    val flat = (0 to 9).map(_ => ("flat", 3, 7)).toDF("g", "x", "y")
    val out = TimeSeries.trendSlopes(line.union(flat), "g", "x", "y")
      .collect().map(r => r.getString(0) ->
        ((Option(r.get(2)).map(_.asInstanceOf[Double]),
          Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    assert(out("up") === ((Some(2.0), Some(1.0))))
    assert(out("flat") === ((None, None))) // zero x variance
  }

  test("level shifts: step change flagged, burn-in rows exempt") {
    // 7 days at 10, then 7 days at 20: the boundary day sees before=10,
    // after=20 → shift 10; interior days have mixed frames under threshold 9
    val df = (1 to 14).map(i => ("k", i, if (i <= 7) 10.0 else 20.0))
      .toDF("k", "t", "v")
    val out = TimeSeries.levelShifts(df, "k", "t", "v", width = 7, threshold = 9.0)
      .collect()
    assert(out.length === 1)
    assert(out.head.getAs[Int]("t") === 8)
    assert(out.head.getAs[Double]("shift") === 10.0)
    // nothing flagged on a flat series
    val flat = (1 to 20).map(i => ("k", i, 5.0)).toDF("k", "t", "v")
    assert(TimeSeries.levelShifts(flat, "k", "t", "v", 7, 0.1).count() === 0)
  }

  test("seasonal anomalies: hour-of-day median baseline flags only the spiked day") {
    // hour 9 on 3 days: 10, 10, 40 events; hour 10 steady at 6
    val rows =
      (1 to 10).map(i => s"2026-01-01 09:00:${i % 60}") ++
      (1 to 10).map(i => s"2026-01-02 09:00:${i % 60}") ++
      (1 to 40).map(i => s"2026-01-03 09:${i % 2}0:00") ++
      (1 to 6).flatMap(i => Seq(s"2026-01-01 10:00:0$i", s"2026-01-02 10:00:0$i", s"2026-01-03 10:00:0$i"))
    val df = rows.toDF("s").select(to_timestamp(col("s")).as("ts"))
    val out = TimeSeries.seasonalAnomalies(df, "ts")
      .collect().map(r => (r.getDate(0).toString, r.getInt(1)) -> ((r.getLong(2), r.getBoolean(5))))
      .toMap
    assert(out(("2026-01-03", 9)) === ((40L, true)))   // 40 > 2 x median 10
    assert(out(("2026-01-01", 9)) === ((10L, false)))
    assert(out(("2026-01-02", 10)) === ((6L, false)))  // steady hour never flags
    assert(out.values.count(_._2) === 1)
  }

  test("cusum: hand-computed spike, clamp at zero, alarm at the jump") {
    def ts(h: Int, i: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:0$i:00")
    // hourly counts [2,2,2,2,10]: m=3.6, sd=3.2, slack k*sd=1.6
    // d = x-5.2 -> R = [-3.2,-6.4,-9.6,-12.8,-8.0] -> S = [0,0,0,0,4.8]
    val ev = ((0 to 3).flatMap(h => Seq(ts(h, 0), ts(h, 1))) ++
      (0 until 10).map(i => ts(4, i))).map(Tuple1(_)).toDF("event_ts")
    val out = TimeSeries.cusum(ev, k = 0.5, h = 1.0)
      .orderBy("h").collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    assert(out.map(_._2).toSeq === Seq(0.0, 0.0, 0.0, 0.0, 4.8))
    // h=1.0: threshold sd=3.2, only the spike hour alarms
    assert(out.map(_._3).toSeq === Seq(false, false, false, false, true))
  }

  test("autocorrelation: alternating series anti-correlates at lag 1, aligns at lag 2") {
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    // hourly counts [2,0,2,0,2] over a dense spine (hours 1 and 3 absent)
    val ev = Seq(ts(0, 0), ts(0, 30), ts(2, 0), ts(2, 30), ts(4, 0), ts(4, 30))
      .map(Tuple1(_)).toDF("event_ts")
    val out = TimeSeries.autocorrelation(ev, lags = Seq(1, 2, 24))
      .orderBy("lag").collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), Option(r.get(2))))).toMap
    assert(out(1)._1 === 5L)
    // m=1.2, den=4.8; lag1 num = 4*(-0.96) = -3.84; lag2 num = 2.72
    assert(out(1)._2 === Some(-0.8))
    assert(out(2)._2 === Some(0.566667))
    assert(out(24)._2 === None)  // lag exceeds the series: no pairs
    // constant series: zero variance -> r undefined
    val const = Seq(ts(0, 0), ts(1, 0), ts(2, 0)).map(Tuple1(_)).toDF("event_ts")
    val c = TimeSeries.autocorrelation(const, lags = Seq(1)).collect().head
    assert(c.isNullAt(2))
  }

  test("km survival: censored tails hold at-risk counts, step product hand-computed") {
    def t(off: Int) = java.sql.Timestamp.valueOf(s"2026-01-01 00:00:00").toInstant
      .plusSeconds(off.toLong)
    def ts(off: Int) = java.sql.Timestamp.from(t(off))
    val clicks = Seq(
      ("s1", ts(0)), ("s1", ts(100)),   // dur 100 — holds the log's LAST event, so censored by definition
      ("s2", ts(0)), ("s2", ts(50)),    // dur 50, dies
      ("s3", ts(95)),                   // dur 0, last within 10s of log end -> censored
      ("s4", ts(0)), ("s4", ts(30))     // dur 30, dies
    ).toDF("session_id", "event_ts")
    val out = TimeSeries.kmSurvival(clicks, censorHorizonSec = 10L)
      .orderBy("t_sec").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
    assert(out.toSeq === Seq(
      0L -> ((4L, 0L, 1L, 1.0)),        // censoring only: S stays 1
      30L -> ((3L, 1L, 0L, 0.666667)),  // 2/3
      50L -> ((2L, 1L, 0L, 0.333333)),  // 2/3 * 1/2
      100L -> ((1L, 0L, 1L, 0.333333))))// censored tail: curve holds, never drops to 0
  }

  test("km survival: zero horizon censors nobody — curve equals 1 - ECDF") {
    def ts(off: Int) = java.sql.Timestamp.valueOf("2026-01-01 00:00:00").toInstant
      .plusSeconds(off.toLong)
    def mk(off: Int) = java.sql.Timestamp.from(ts(off))
    val clicks = Seq(
      ("a", mk(0)), ("a", mk(10)),
      ("b", mk(0)), ("b", mk(20))
    ).toDF("session_id", "event_ts")
    val out = TimeSeries.kmSurvival(clicks, censorHorizonSec = 0L)
      .orderBy("t_sec").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(4)))
    assert(out.toSeq === Seq((10L, 2L, 1L, 0.5), (20L, 1L, 1L, 0.0)))
  }

  test("burstiness: metronomic stream VMR 0, bursty stream hand-computed") {
    def rows(typ: String, counts: Seq[Int]): Seq[(String, java.sql.Timestamp, Date)] =
      counts.zipWithIndex.flatMap { case (c, h) =>
        Seq.fill(c)((typ,
          java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:15:00"),
          d("2026-01-01")))
      }
    val df = (rows("steady", Seq(2, 2, 2)) ++ rows("bursty", Seq(1, 1, 10)))
      .toDF("event_type", "event_ts", "event_date")
    val out = TimeSeries.burstiness(df, "event_type", "event_ts", "event_date")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(out("steady") === ((3L, 2.0, 0.0)))
    // counts (1,1,10): mean 4, E[x^2] = 34, var 18, VMR 4.5
    assert(out("bursty") === ((3L, 4.0, 4.5)))
  }
}
