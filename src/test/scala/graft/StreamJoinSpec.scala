package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.Sessionize

object StreamJoinSpec {
  final case class Click(user_id: String, event_ts: Timestamp)
}

class StreamJoinSpec extends SparkSpec {
  import spark.implicits._
  import StreamJoinSpec.Click

  private def t(s: String) = Timestamp.valueOf(s)

  test("session_window agg: gap-inclusive merge, end = last + gap; streaming twin agrees") {
    val batch = Seq(
      ("u1", t("2026-01-01 10:00:00")),
      ("u1", t("2026-01-01 10:29:59")), // merges (< 30m)
      ("u1", t("2026-01-01 10:59:59")), // EXACTLY 30m later: still merges
      ("u1", t("2026-01-01 11:30:00")), // 30m + 1s later: new session
      ("u2", t("2026-01-01 09:00:00"))
    ).toDF("user_id", "event_ts")
    val got = Sessionize.sessionWindowAgg(batch, "30 minutes")
      .orderBy("user_id", "session_start")
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
    assert(got === Array(
      ("u1", t("2026-01-01 10:00:00"), t("2026-01-01 11:29:59"), 3L),
      ("u1", t("2026-01-01 11:30:00"), t("2026-01-01 12:00:00"), 1L),
      ("u2", t("2026-01-01 09:00:00"), t("2026-01-01 09:30:00"), 1L)))

    // streaming: same operator under a watermark; append emits sessions the
    // watermark has sealed
    val in = MemoryStream[Click](spark)
    val stream = Sessionize.sessionWindowAgg(
      in.toDF(), "30 minutes", tsCol = "event_ts", watermark = Some("10 minutes"))
    val q = stream.writeStream.format("memory").queryName("swin_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData(
        Click("u1", t("2026-01-01 10:00:00")),
        Click("u1", t("2026-01-01 10:05:00")))
      q.processAllAvailable()
      // advance the watermark far past the session's end to seal it
      in.addData(Click("u1", t("2026-01-01 12:00:00")))
      q.processAllAvailable()
      in.addData(Click("u1", t("2026-01-01 14:00:00")))
      q.processAllAvailable()
      val sealedSessions = spark.table("swin_out")
        .select("session_start", "n_events")
        .as[(Timestamp, Long)].collect().toMap
      assert(sealedSessions.get(t("2026-01-01 10:00:00")) === Some(2L),
        s"first session must seal with both events: $sealedSessions")
    } finally q.stop()
  }
}
