package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.duration._

import graft.pipeline.Orchestrator
import graft.pipeline.Orchestrator.{Policy, Stage}

class OrchestratorSpec extends SparkSpec {

  private def noSleep: FiniteDuration => Unit = _ => ()

  test("flaky stage succeeds on retry; the retry delay is honored") {
    val calls = new AtomicInteger(0)
    val slept = Vector.newBuilder[FiniteDuration]
    val reports = Orchestrator.run(spark, Seq(
      Stage("flaky", Policy(retries = 2, retryDelay = 5.minutes))(() =>
        if (calls.incrementAndGet() < 2) sys.error("boom") else ())),
      sleep = slept += _)
    assert(reports.map(r => (r.name, r.attempts, r.succeeded)) ===
      Seq(("flaky", 2, true)))
    assert(slept.result() === Seq(5.minutes), "one retry → one delay")
  }

  test("exhausted retries fail the stage and fail-fast the chain") {
    val downstream = new AtomicInteger(0)
    val reports = Orchestrator.run(spark, Seq(
      Stage("always_fails", Policy(retries = 1, retryDelay = 1.minute))(() =>
        sys.error("persistent failure")),
      Stage("downstream")(() => { downstream.incrementAndGet(); () })),
      sleep = noSleep)
    val Seq(first, second) = reports
    assert(!first.succeeded && first.attempts === 2)
    assert(first.error.exists(_.contains("persistent failure")))
    assert(!second.succeeded && second.attempts === 0)
    assert(second.error === Some("upstream_failed"))
    assert(downstream.get() === 0, "downstream body must never run")
  }

  test("streaming policy never retries") {
    val calls = new AtomicInteger(0)
    val reports = Orchestrator.run(spark, Seq(
      Stage("stream", Orchestrator.streamingPolicy)(() => {
        calls.incrementAndGet(); sys.error("stream died")
      })), sleep = noSleep)
    assert(calls.get() === 1)
    assert(reports.head.attempts === 1 && !reports.head.succeeded)
  }

  test("SLA breach times the stage out and cancels its Spark job group") {
    // the stage launches a long Spark job; the 2s SLA must cancel it —
    // observed as a timeout report well before the job's natural runtime
    val reports = Orchestrator.run(spark, Seq(
      Stage("hung", Policy(retries = 0, slaTimeout = 2.seconds))(() => {
        import spark.implicits._
        spark.range(1000000).as[Long].map { i =>
          Thread.sleep(1); i // ~1000s of task time: never finishes in 2s
        }.count()
        ()
      })), sleep = noSleep)
    val r = reports.head
    assert(!r.succeeded)
    assert(r.error.exists(_.contains("sla_timeout")), r.error.toString)
    assert(r.durationMs < 30000, s"cancel must not wait for the job: ${r.durationMs}ms")
  }

  test("SLA breach cancels the jobs a stage fans out: none of its group is left RUNNING") {
    import spark.implicits._
    val group = new java.util.concurrent.atomic.AtomicReference[String]()
    def slow(): Long = spark.range(1000000).as[Long].map { i => Thread.sleep(1); i }.count()
    val reports = Orchestrator.run(spark, Seq(
      Stage("fanout", Policy(retries = 0, slaTimeout = 2.seconds))(() => {
        group.set(spark.sparkContext.getLocalProperty("spark.jobGroup.id"))
        graft.core.Fanout.all(spark, Seq(() => slow(), () => slow()))
        ()
      })), sleep = noSleep)
    val r = reports.head
    assert(!r.succeeded && r.error.exists(_.contains("sla_timeout")), r.error.toString)
    assert(r.durationMs < 30000, s"cancel must not wait for the jobs: ${r.durationMs}ms")
    val st = spark.sparkContext.statusTracker
    val jobs = st.getJobIdsForGroup(group.get)
    assert(jobs.length >= 2, "the fanned-out jobs carry the stage's job group")
    assert(!jobs.exists(id =>
      st.getJobInfo(id).exists(_.status() == org.apache.spark.JobExecutionStatus.RUNNING)))
  }

  test("a timed-out stage whose thread survives the drain is NOT retried") {
    val calls = new AtomicInteger(0)
    val release = new java.util.concurrent.CountDownLatch(1)
    val reports = Orchestrator.run(spark, Seq(
      Stage("stuck", Policy(retries = 3, retryDelay = 1.minute,
          slaTimeout = 200.millis, cancelDrain = 200.millis))(() => {
        calls.incrementAndGet()
        // swallow the cancel interrupt and keep "running" until released —
        // the un-killable stage body the drain guard exists for
        while (release.getCount > 0)
          try release.await() catch { case _: InterruptedException => () }
      })),
      sleep = noSleep)
    release.countDown()
    assert(calls.get() === 1, "no concurrent second attempt was launched")
    assert(reports.head.attempts === 1 && !reports.head.succeeded)
    assert(reports.head.error.exists(_.contains("retries skipped")))
  }

  test("managed daily pipeline runs end-to-end with per-stage reports") {
    val dir = tmpDir("orch_in")
    Fixtures.writeJsonl(dir, "events.json", Seq(
      Fixtures.rawEventJson("s1", 1, "2026-01-01T10:00:00+00:00", "2026-01-01"),
      Fixtures.rawEventJson("s1", 2, "2026-01-01T10:05:00+00:00", "2026-01-01"),
      Fixtures.rawEventJson("s2", 1, "2026-01-02T09:00:00+00:00", "2026-01-02")))
    val out = tmpDir("orch_out")
    val reports = graft.pipeline.DailyPipeline.runManaged(spark, dir, out)
    assert(reports.map(_.name) === Seq("archive_raw", "curate", "cold_marts"))
    assert(reports.forall(_.succeeded), reports.mkString("; "))
    assert(spark.read.parquet(s"$out/analytics_mart/mart_daily_traffic").count() === 2)
  }
}
