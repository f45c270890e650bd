package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{CuratedStreamJob, HotMartStreamJob}

/** Sustained-throughput gate (round 6): replay the FULL sf0.1 event table
  * (100k events — the reference's envelope is a ~60k-event day on a 60 s
  * trigger, BASELINE.md) through both streaming jobs in ~20 micro-batches
  * and assert from StreamingQueryProgress that the p95 batch duration fits
  * a trigger interval 30× tighter than the reference SLA.
  *
  * Trigger.AvailableNow runs micro-batches back-to-back, so each measured
  * `triggerExecution` is the full wall cost of one batch (source listing →
  * parse → stateful dedup → partitioned sink). A pipeline whose p95 batch
  * cost is below T milliseconds sustains a ProcessingTime(T) trigger
  * without falling behind — the capacity claim StreamingSpec's semantic
  * cases never measured. Measured numbers are recorded in PLANS.md.
  */
class ThroughputSpec extends SparkSpec {

  private val TriggerBudgetMs = 2000.0 // vs the reference's 60 000 ms SLA

  private def p95(durations: Seq[Double]): Double = {
    val s = durations.sorted
    s(math.round(0.95 * (s.length - 1)).toInt)
  }

  private def batchDurations(q: org.apache.spark.sql.streaming.StreamingQuery): Seq[Double] =
    q.recentProgress.toSeq
      .filter(_.numInputRows > 0)
      .map(_.durationMs.get("triggerExecution").toDouble)

  test("ingest stream sustains a 2s trigger over the full sf0.1 replay") {
    val sfDir = "/root/testdata/sf0.1"
    val inDir = tmpDir("tp_in")
    val outDir = tmpDir("tp_out") + "/curated"
    val ckDir = tmpDir("tp_ck")

    // render the event table as TripClick-shaped raw JSONL in EVENT-TIME
    // order (the arrival order of a real day — a time-shuffled replay would
    // push the watermark past most rows and measure a stream that drops
    // its input), 20 shards → 20 micro-batches of ~5k events
    val clicks = graft.adapters.TestData.clicks(spark, sfDir)
    val lines = clicks
      .select(col("event_ts"), to_json(struct(
        col("session_id").as("SessionId"),
        col("document_id").as("DocumentId"),
        date_format(col("event_ts"), "yyyy-MM-dd'T'HH:mm:ssXXX").as("event_ts"),
        col("event_date").cast("string").as("event_date"),
        // the producer's key: hex xxhash64 of session|document|ts
        lower(hex(xxhash64(concat_ws("|", col("session_id"),
          col("document_id").cast("string"), col("event_ts").cast("string"))))).as("dedup_key"),
        lit(",Oncology,Surgery").as("ClinicalAreas"),
        concat(lit("doc "), col("document_id")).as("Title")
      )).as("value"))
      .orderBy("event_ts").select("value")
      .collect().map(_.getString(0))
    // FileStreamSource orders the backlog by MODIFICATION TIME, not path;
    // shards written within the same millisecond occasionally process out
    // of event-time order, and a whole late shard then falls below the
    // advanced watermark and is dropped (observed as 80k/90k/95k row
    // flakes — always multiples of the 5k shard). Strictly increasing
    // mtimes pin arrival order to event-time order, the scenario this
    // test states it replays.
    val t0 = System.currentTimeMillis() - 60000
    lines.grouped((lines.length + 19) / 20).zipWithIndex.foreach {
      case (chunk, i) =>
        Fixtures.writeJsonl(inDir, f"shard-$i%03d.json", chunk.toSeq)
        new java.io.File(inDir, f"shard-$i%03d.json").setLastModified(t0 + i * 1000L)
    }

    val source = CuratedStreamJob.jsonlSource(spark, inDir, maxFilesPerTrigger = 1)
    val curated = CuratedStreamJob.curate(source, rawIsKafka = false)
    val q = CuratedStreamJob.start(curated, outDir, ckDir, Trigger.AvailableNow())
    // AvailableNow terminates on its own once the backlog drains; under
    // full-suite concurrency the scheduler can stall batches far beyond
    // their own cost, and a fixed await that returns with the query still
    // active would assert against PARTIAL output (observed: 80k of 100k
    // rows after 16/20 batches). Wait on actual termination, generously —
    // the latency assertions below still gate per-batch cost.
    var waited = 0L
    while (q.isActive && waited < 600000L) { q.awaitTermination(10000); waited += 10000 }
    assert(!q.isActive, "ingest replay did not drain within 600s")

    val durs = batchDurations(q)
    val rows = spark.read.parquet(outDir).count()
    info(f"ingest: $rows rows, ${durs.length} micro-batches, " +
      f"p50=${durs.sorted.apply(durs.length / 2)}%.0f ms, p95=${p95(durs)}%.0f ms")
    assert(rows > 90000L) // full replay landed (minus producer-side dups)
    assert(durs.length >= 15, "replay must span many micro-batches")
    assert(p95(durs) < TriggerBudgetMs,
      s"p95 batch duration ${p95(durs)} ms exceeds the $TriggerBudgetMs ms trigger budget")

    // phase 2: hot-mart serving job over the curated layer just written
    val ck2 = tmpDir("tp_ck2")
    val nFiles = new java.io.File(outDir).listFiles()
      .filter(_.isDirectory)
      .map(_.listFiles().count(_.getName.endsWith(".parquet"))).sum
    val perTrigger = math.max(1, nFiles / 20)
    var martBatches = 0
    val src2 = HotMartStreamJob.parquetSource(
      spark, outDir, graft.schema.TripClick.curatedSchema, perTrigger)
    val q2 = HotMartStreamJob.start(
      src2,
      sink = b => {
        // materialize all four marts, as the serving sink would
        b.trafficMinute.count(); b.topDocs.count()
        b.categoryTrend.count(); b.anomalies.count()
        martBatches += 1
      },
      ck2, Trigger.AvailableNow())
    q2.awaitTermination(300000)

    val durs2 = batchDurations(q2)
    info(f"hot marts: $martBatches batches, " +
      f"p50=${durs2.sorted.apply(durs2.length / 2)}%.0f ms, p95=${p95(durs2)}%.0f ms")
    assert(martBatches >= 10, "mart replay must span many micro-batches")
    assert(p95(durs2) < TriggerBudgetMs,
      s"hot-mart p95 ${p95(durs2)} ms exceeds the $TriggerBudgetMs ms trigger budget")
  }
}
