package graft

import java.sql.{Date, Timestamp}

import org.apache.spark.sql.DataFrame

import graft.marts.{ColdMarts, HotMarts}

class MartsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private def d(s: String) = Date.valueOf(s)

  /** Canonical click-frame fixture: 2 sessions, 2 days, crafted ties. */
  private lazy val clicks: DataFrame = Seq(
    // session a, day 1: 3 clicks on 2 docs, 60s span, hours 1 and 2
    ("a", 10, ts("2026-01-01 01:00:00"), d("2026-01-01"), ",Onco,Surg"),
    ("a", 10, ts("2026-01-01 01:00:30"), d("2026-01-01"), ",Onco,"),
    ("a", 11, ts("2026-01-01 02:01:00"), d("2026-01-01"), "Cardio"),
    // session b, day 1: 1 click, hour 2 → hour tie 2-vs-2 on day 1... no:
    // day 1 hours: h1=2 clicks, h2=2 clicks → peak tie → deterministic h1? no, h2 has 2.
    ("b", 10, ts("2026-01-01 02:59:59"), d("2026-01-01"), " Onco , Surg "),
    // day 2: only session b, 2 clicks same doc in one 5-min window
    ("b", 12, ts("2026-01-02 10:01:00"), d("2026-01-02"), ""),
    ("b", 12, ts("2026-01-02 10:03:00"), d("2026-01-02"), null)
  ).toDF("session_id", "document_id", "event_ts", "event_date", "clinical_areas")

  test("sessionAnalysis: counts, distincts, duration (mart #1)") {
    val out = ColdMarts.sessionAnalysis(clicks)
      .orderBy("session_id", "event_date").collect()
    val a = out(0)
    assert(a.getAs[String]("session_id") === "a")
    assert(a.getAs[Long]("click_count") === 3)
    assert(a.getAs[Long]("unique_docs") === 2)
    assert(a.getAs[Long]("session_duration_sec") === 3660L)
    val b2 = out(2)
    assert(b2.getAs[Long]("session_duration_sec") === 120L)
  }

  test("dailyTraffic: totals + deterministic peak hour on ties (mart #2)") {
    val out = ColdMarts.dailyTraffic(clicks).orderBy("event_date").collect()
    val day1 = out(0)
    assert(day1.getAs[Long]("total_events") === 4)
    assert(day1.getAs[Long]("unique_sessions") === 2)
    assert(day1.getAs[Long]("unique_documents") === 2)
    // hours 1 and 2 both have 2 clicks → tie broken to the earlier hour
    assert(day1.getAs[Int]("peak_hour") === 1)
    assert(out(1).getAs[Int]("peak_hour") === 10)
  }

  test("clinicalAreas: explode + trim + drop empties (mart #3)") {
    val out = ColdMarts.clinicalAreas(clicks)
      .orderBy("event_date", "clinical_area")
      .collect()
      .map(r => (r.getAs[Date]("event_date").toString, r.getAs[String]("clinical_area"),
        r.getAs[Long]("search_count"), r.getAs[Long]("unique_sessions")))
    assert(out.toSeq === Seq(
      ("2026-01-01", "Cardio", 1L, 1L),
      ("2026-01-01", "Onco", 3L, 2L),
      ("2026-01-01", "Surg", 2L, 2L)))
  }

  test("popularDocuments: per-day view counts ordered (mart #4)") {
    val out = ColdMarts.popularDocuments(clicks).collect()
    assert(out.head.getAs[Int]("document_id") === 10)
    assert(out.head.getAs[Long]("view_count") === 3)
  }

  test("trafficPerMinute buckets by minute (mart #5)") {
    val out = HotMarts.trafficPerMinute(clicks).orderBy("event_minute").collect()
    // 01:00 holds two clicks; the other four minutes one each
    assert(out.length === 5)
    assert(out.head.getAs[Long]("total_clicks") === 2)
    assert(out.tail.forall(_.getAs[Long]("total_clicks") === 1))
  }

  test("topDocs: global rank with deterministic ties (mart #6)") {
    val out = HotMarts.topDocs(clicks, k = 2).orderBy("rank").collect()
    assert(out(0).getAs[Int]("document_id") === 10)
    assert(out(0).getAs[Long]("click_count") === 3)
    assert(out(0).getAs[Int]("rank") === 1)
    assert(out(1).getAs[Int]("document_id") === 12)
    assert(out(1).getAs[Long]("click_count") === 2)
  }

  test("categoryTrend: lag-based day-over-day percent (mart #7, de-stubbed)") {
    val counts = Seq(
      ("x", d("2026-01-01"), 10L),
      ("x", d("2026-01-02"), 15L),
      ("x", d("2026-01-03"), 12L)
    ).toDF("cat", "event_date", "n")
    val out = HotMarts.categoryTrend(counts, "cat", "event_date", "n")
      .orderBy("event_date").collect()
    assert(out(0).isNullAt(out(0).fieldIndex("trend_pct")))
    assert(out(1).getAs[Double]("trend_pct") === 50.0)
    assert(out(2).getAs[Double]("trend_pct") === -20.0)
  }

  test("anomalySessions: threshold + severity (mart #8)") {
    val out = HotMarts.anomalySessions(clicks, "5 minutes", warnAt = 2, criticalAt = 3)
      .orderBy("window_start").collect()
    // session a bursts in [01:00,01:05), session b in [10:00,10:05)
    assert(out.length === 2)
    assert(out.map(_.getAs[String]("session_id")).toSeq === Seq("a", "b"))
    assert(out.forall(_.getAs[Long]("event_count") === 2))
    assert(out.forall(_.getAs[String]("severity") === "WARNING"))
    val r = out(1)
    assert(r.getAs[Timestamp]("window_start") === ts("2026-01-02 10:00:00"))
    assert(r.getAs[Timestamp]("window_end") === ts("2026-01-02 10:05:00"))
  }
}
