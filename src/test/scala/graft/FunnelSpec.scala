package graft

import graft.analysis.Funnel
import graft.relational.Relational

class FunnelSpec extends SparkSpec {
  import spark.implicits._

  private lazy val events = Seq(
    // s1 completes in order
    ("s1", "view", 10L), ("s1", "click", 20L), ("s1", "purchase", 30L),
    // s2: purchase BEFORE click — funnel must stall at click
    ("s2", "view", 10L), ("s2", "purchase", 15L), ("s2", "click", 20L),
    // s3: view only
    ("s3", "view", 5L),
    // s4: no view at all — absent from the funnel entirely
    ("s4", "click", 1L), ("s4", "purchase", 2L)
  ).toDF("sid", "etype", "ts")

  test("step times: strict ordering enforced, stalls keep prefix, no-entry keys absent") {
    val out = Funnel.stepTimes(events, Seq("view", "click", "purchase"), "sid", "etype", "ts")
      .collect()
      .map(r => r.getString(0) -> ((Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))))
      .toMap
    assert(out.keySet === Set("s1", "s2", "s3"))
    assert(out("s1") === ((Some(10L), Some(20L), Some(30L))))
    assert(out("s2") === ((Some(10L), Some(20L), None))) // purchase@15 < click@20 doesn't count
    assert(out("s3") === ((Some(5L), None, None)))
  }

  test("first-touch attribution: earliest view wins, conversions without a prior touch drop") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val clicks = Seq(
      // s1: views doc 7 then doc 8, buys twice — BOTH purchases credit doc 7
      (1L, "s1", Some(7), t("2026-01-01 10:00:00"), "view", 0.0),
      (2L, "s1", Some(8), t("2026-01-01 10:01:00"), "view", 0.0),
      (3L, "s1", Some(8), t("2026-01-01 10:02:00"), "purchase", 10.0),
      (4L, "s1", Some(7), t("2026-01-01 10:03:00"), "purchase", 2.5),
      // s2: purchase BEFORE any view — unattributable, dropped
      (5L, "s2", Some(9), t("2026-01-01 11:00:00"), "purchase", 99.0),
      (6L, "s2", Some(9), t("2026-01-01 11:01:00"), "view", 0.0),
      // s3: first view has a NULL doc — skipped; doc 5 gets the credit
      (7L, "s3", None, t("2026-01-01 12:00:00"), "view", 0.0),
      (8L, "s3", Some(5), t("2026-01-01 12:01:00"), "view", 0.0),
      (9L, "s3", Some(5), t("2026-01-01 12:02:00"), "purchase", 4.0)
    ).toDF("event_id", "session_id", "document_id", "event_ts", "event_type", "value")
    val out = Funnel.firstTouchAttribution(clicks, "view", "purchase")
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out === Map(7 -> ((2L, 12.5)), 5 -> ((1L, 4.0))))
    // last-touch flips s1's credit to doc 8 (most recent view before both
    // purchases); s2 still unattributable, s3 still credits doc 5
    val lastOut = Funnel.lastTouchAttribution(clicks, "view", "purchase")
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(lastOut === Map(8 -> ((2L, 12.5)), 5 -> ((1L, 4.0))))
  }

  test("retention matrix: first active day cohorts, offsets count distinct actives") {
    def d(s: String) = java.sql.Date.valueOf(s)
    val events = Seq(
      // cohort 01-01: a active on days 0 and 2; b only day 0 (twice — distinct!)
      ("a", d("2026-01-01")), ("a", d("2026-01-03")),
      ("b", d("2026-01-01")), ("b", d("2026-01-01")),
      // cohort 01-02: c active days 0 and 1
      ("c", d("2026-01-02")), ("c", d("2026-01-03"))
    ).toDF("session_id", "event_date")
    val out = Relational.retentionMatrix(events)
      .collect().map(r => (r.getDate(0).toString, r.getInt(1)) -> r.getLong(2)).toMap
    assert(out === Map(
      ("2026-01-01", 0) -> 2L, ("2026-01-01", 2) -> 1L,
      ("2026-01-02", 0) -> 1L, ("2026-01-02", 1) -> 1L))
  }

  test("markov transitions: START/END states, per-row distribution sums to 1") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val clicks = Seq(
      (1L, "s1", t("2026-01-01 10:00:00"), "view"),
      (2L, "s1", t("2026-01-01 10:01:00"), "click"),
      (3L, "s1", t("2026-01-01 10:02:00"), "view"),
      (4L, "s2", t("2026-01-01 11:00:00"), "view")
    ).toDF("event_id", "session_id", "event_ts", "event_type")
    val out = Funnel.markovTransitions(clicks)
      .collect().map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out === Map(
      ("<START>", "view") -> ((2L, 1.0)),
      ("view", "click") -> ((1L, 0.333333)),
      ("view", "<END>") -> ((2L, 0.666667)),
      ("click", "view") -> ((1L, 1.0))))
    // every from-state's outgoing mass is a distribution (END has no row)
    val sums = out.toSeq.groupBy(_._1._1).view.mapValues(_.map(_._2._2).sum)
    sums.foreach { case (_, s) => assert(math.abs(s - 1.0) < 1e-5) }
  }

  test("markov transitions: ties on ts break by event_id deterministically") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val clicks = Seq(
      (2L, "s1", t("2026-01-01 10:00:00"), "b"),
      (1L, "s1", t("2026-01-01 10:00:00"), "a")
    ).toDF("event_id", "session_id", "event_ts", "event_type")
    val out = Funnel.markovTransitions(clicks)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(out === Set(("<START>", "a"), ("a", "b"), ("b", "<END>")))
  }

  test("sequence patterns: contiguous trigrams with session support, top-k capped") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val clicks = Seq(
      (1L, "s1", t("2026-01-01 10:00:00"), "a"),
      (2L, "s1", t("2026-01-01 10:01:00"), "b"),
      (3L, "s1", t("2026-01-01 10:02:00"), "c"),
      (4L, "s1", t("2026-01-01 10:03:00"), "d"),
      (5L, "s2", t("2026-01-01 11:00:00"), "a"),
      (6L, "s2", t("2026-01-01 11:01:00"), "b"),
      (7L, "s2", t("2026-01-01 11:02:00"), "c")
    ).toDF("event_id", "session_id", "event_ts", "event_type")
    val out = Funnel.sequencePatterns(clicks)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq(("a>b>c", 2L, 2L), ("b>c>d", 1L, 1L)))
    val top1 = Funnel.sequencePatterns(clicks, k = 1).collect()
    assert(top1.map(_.getString(0)).toSeq === Seq("a>b>c"))
  }

  test("markov entropy rate: deterministic chain 0, mixed chain hand-computed") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val det = Seq(
      (1L, "s1", t("2026-01-01 10:00:00"), "a"),
      (2L, "s1", t("2026-01-01 10:01:00"), "b"),
      (3L, "s2", t("2026-01-01 11:00:00"), "a"),
      (4L, "s2", t("2026-01-01 11:01:00"), "b")
    ).toDF("event_id", "session_id", "event_ts", "event_type")
    assert(Funnel.markovEntropyRate(det).collect().head.getDouble(2) === 0.0)
    // s1: a,a ; s2: a,b -> from-state a has p = 1/3 over {a, b, <END>};
    // its visit share is 3/6 -> H = 0.5 * ln 3
    val mixed = Seq(
      (1L, "s1", t("2026-01-01 10:00:00"), "a"),
      (2L, "s1", t("2026-01-01 10:01:00"), "a"),
      (3L, "s2", t("2026-01-01 11:00:00"), "a"),
      (4L, "s2", t("2026-01-01 11:01:00"), "b")
    ).toDF("event_id", "session_id", "event_ts", "event_type")
    val h = Funnel.markovEntropyRate(mixed).collect().head
    assert(h.getLong(0) === 3L)       // from-states: <START>, a, b
    assert(h.getLong(1) === 6L)       // 4 events + 2 session starts
    assert(h.getDouble(2) === 0.549306)
  }

  test("gap fill: spine densifies, forward fill carries last value, flags set") {
    val daily = Seq(
      ("a", java.sql.Date.valueOf("2024-01-01"), 5L),
      ("a", java.sql.Date.valueOf("2024-01-04"), 7L),
      ("b", java.sql.Date.valueOf("2024-01-02"), 1L)
    ).toDF("k", "day", "v")
    val out = Relational.gapFillDaily(daily, "k", "day", "v")
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString, Option(r.get(2)), r.getLong(3), r.getBoolean(4)))
      .sortBy(r => (r._1, r._2))
    assert(out.toSeq === Seq(
      ("a", "2024-01-01", Some(5L), 5L, false),
      ("a", "2024-01-02", None, 5L, true),
      ("a", "2024-01-03", None, 5L, true),
      ("a", "2024-01-04", Some(7L), 7L, false),
      ("b", "2024-01-02", Some(1L), 1L, false)))
  }
}
