package graft

import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{CuratedStreamJob, HotMartStreamJob}

class StreamingSpec extends SparkSpec {

  test("curated stream: watermarked dedup collapses replayed events (D1+K2)") {
    val inDir = tmpDir("stream_in")
    val outDir = tmpDir("stream_out") + "/curated"
    val ckDir = tmpDir("stream_ck")

    val e1 = Fixtures.rawEventJson("s1", 1, "2026-01-01T15:00:00+00:00", "2026-01-01", dedupKey = "k1")
    val e2 = Fixtures.rawEventJson("s1", 2, "2026-01-01T15:01:00+00:00", "2026-01-01", dedupKey = "k2")
    val e3 = Fixtures.rawEventJson("s2", 3, "2026-01-01T15:02:00+00:00", "2026-01-01", dedupKey = "k3")
    // k1 replayed (at-least-once delivery) in both files
    Fixtures.writeJsonl(inDir, "part-000.json", Seq(e1, e2, e1))
    Fixtures.writeJsonl(inDir, "part-001.json", Seq(e1, e3))

    val source = CuratedStreamJob.jsonlSource(spark, inDir, maxFilesPerTrigger = 1)
    val curated = CuratedStreamJob.curate(source, rawIsKafka = false)
    val q = CuratedStreamJob.start(curated, outDir, ckDir, Trigger.AvailableNow())
    q.awaitTermination(120000)

    val out = spark.read.parquet(outDir)
    assert(out.count() === 3) // k1 seen 3x across 2 micro-batches → once
    assert(out.select("dedup_key").distinct().count() === 3)
    // partitioned layout survives
    assert(out.columns.contains("event_date"))
  }

  test("dead-letter channel: corrupt record mid-stream is quarantined, clean rows still curate") {
    val inDir = tmpDir("dlq_in")
    val outDir = tmpDir("dlq_out") + "/curated"
    val qDir = tmpDir("dlq_out") + "/quarantine"
    val ck1 = tmpDir("dlq_ck1")
    val ck2 = tmpDir("dlq_ck2")
    val good1 = Fixtures.rawEventJson("s1", 1, "2026-01-01T15:00:00+00:00", "2026-01-01", dedupKey = "d1")
    val good2 = Fixtures.rawEventJson("s2", 2, "2026-01-01T15:01:00+00:00", "2026-01-01", dedupKey = "d2")
    val corrupt = """{"SessionId":"s3","DocumentId": garbage not json"""
    Fixtures.writeJsonl(inDir, "part-000.json", Seq(good1))
    // the corrupt record arrives MID-stream, between two clean ones
    Fixtures.writeJsonl(inDir, "part-001.json", Seq(corrupt, good2))

    val clean = CuratedStreamJob.curate(
      CuratedStreamJob.jsonlSource(spark, inDir, maxFilesPerTrigger = 1),
      rawIsKafka = false)
    val rejected = graft.ingest.Normalizer.fromJsonLinesWithDeadLetter(
      CuratedStreamJob.jsonlSource(spark, inDir, maxFilesPerTrigger = 1))._2
    val q1 = CuratedStreamJob.start(clean, outDir, ck1, Trigger.AvailableNow())
    val q2 = CuratedStreamJob.startRejects(rejected, qDir, ck2, Trigger.AvailableNow())
    q1.awaitTermination(120000)
    q2.awaitTermination(120000)

    // the clean path is not derailed by the corrupt record
    val out = spark.read.parquet(outDir)
    assert(out.select("dedup_key").collect().map(_.getString(0)).sorted.toSeq
      === Seq("d1", "d2"))
    // the corrupt payload is preserved verbatim with its reason, not dropped
    val quarantined = spark.read.parquet(qDir).collect()
    assert(quarantined.length === 1)
    val row = quarantined.head
    assert(row.getAs[String]("raw") === corrupt)
    assert(row.getAs[String]("reject_reason") === "unparseable_json")
    // partitioned by reject date for retention sweeps
    assert(spark.read.parquet(qDir).columns.contains("reject_date"))
  }

  test("curated stream late-arrival contract (D1): late NEW keys pass; watermark only bounds state") {
    // Reference parity: dropDuplicates(["dedup_key"]) after withWatermark
    // (S2C:147-151) bounds the dedup STATE by the watermark — it does not
    // reject late rows (the event-time column is not among the dedup keys).
    // A late event with an unseen key is therefore still curated; only
    // replays whose key is still in state are collapsed. Strict late-row
    // rejection would be dropDuplicatesWithinWatermark, a semantic change.
    val inDir = tmpDir("late_in")
    val outDir = tmpDir("late_out") + "/curated"
    val ckDir = tmpDir("late_ck")
    // batch 1 advances event time to 16:00 → watermark 15:50 after the batch
    Fixtures.writeJsonl(inDir, "part-000.json", Seq(
      Fixtures.rawEventJson("s1", 1, "2026-01-01T16:00:00+00:00", "2026-01-01", dedupKey = "w1")))
    // batch 2: a fresh event, a 30-min-late new-key event, and a replay of w1
    Fixtures.writeJsonl(inDir, "part-001.json", Seq(
      Fixtures.rawEventJson("s1", 2, "2026-01-01T16:01:00+00:00", "2026-01-01", dedupKey = "w2"),
      Fixtures.rawEventJson("s9", 9, "2026-01-01T15:30:00+00:00", "2026-01-01", dedupKey = "w9"),
      Fixtures.rawEventJson("s1", 1, "2026-01-01T16:00:00+00:00", "2026-01-01", dedupKey = "w1")))

    val source = CuratedStreamJob.jsonlSource(spark, inDir, maxFilesPerTrigger = 1)
    val curated = CuratedStreamJob.curate(source, rawIsKafka = false)
    val q = CuratedStreamJob.start(curated, outDir, ckDir, Trigger.AvailableNow())
    q.awaitTermination(120000)

    val keys = spark.read.parquet(outDir)
      .select("dedup_key").collect().map(_.getString(0)).toList
    assert(keys.count(_ == "w1") === 1, "replayed key within watermark collapses")
    assert(keys.contains("w2"))
    assert(keys.contains("w9"), "late new-key event is curated (at-least-once tolerance)")
  }

  test("kafka wire format: binary-value records parse through the full streaming curate path") {
    // no broker is available offline, but the exact frame Spark's Kafka
    // source yields — binary key/value + topic/partition/offset/timestamp —
    // is reproduced through MemoryStream, so S2's parse + watermarked-dedup
    // path runs end-to-end on the wire format itself
    import spark.implicits._
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Array[Byte], Array[Byte], String, Int, Long, java.sql.Timestamp)](spark)
    val kafkaShaped = input.toDF()
      .toDF("key", "value", "topic", "partition", "offset", "timestamp")
    val out = CuratedStreamJob.curate(kafkaShaped, rawIsKafka = true)
    val q = out.writeStream.format("memory").queryName("kafka_curated")
      .outputMode("append").start()
    try {
      def rec(sid: String, doc: Int, ts: String, key: String) =
        (sid.getBytes("UTF-8"),
          Fixtures.rawEventJson(sid, doc, ts, "2026-01-01", dedupKey = key).getBytes("UTF-8"),
          "tripclick_raw_logs", 0, 0L, java.sql.Timestamp.valueOf("2026-01-01 12:00:00"))
      input.addData(
        rec("s1", 7, "2026-01-01T12:00:00+00:00", "k1"),
        rec("s1", 7, "2026-01-01T12:00:00+00:00", "k1"), // duplicate delivery
        rec("s2", 9, "2026-01-01T12:01:00+00:00", "k2"))
      q.processAllAvailable()
      val rows = spark.table("kafka_curated").collect()
        .map(r => r.getAs[String]("session_id") ->
          ((r.getAs[Int]("document_id"), r.getAs[String]("url"), r.getAs[String]("dedup_key"))))
        .toMap
      assert(rows.size === 2, "wire duplicate collapsed by watermarked dedup")
      assert(rows("s1") === ((7, "http://example.org/d/7", "k1")))
      assert(rows("s2") === ((9, "http://example.org/d/9", "k2")))
    } finally q.stop()
  }

  test("sliding traffic is the same transform streaming: overlapping windows close past the watermark") {
    import spark.implicits._
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, java.sql.Timestamp)](spark)
    val stream = input.toDF().toDF("session_id", "event_ts")
      .withWatermark("event_ts", "1 minute")
    val out = graft.relational.Relational.slidingTraffic(stream, exact = false)
    val q = out.writeStream.format("memory").queryName("sliding_out")
      .outputMode("append").start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      // the two events arrive in SEPARATE micro-batches: the overlapping
      // windows must accumulate state across batches, not per-batch counts
      input.addData(("s1", t("2026-01-01 10:01:00")))
      q.processAllAvailable()
      input.addData(("s2", t("2026-01-01 10:03:00")))
      q.processAllAvailable()
      assert(spark.table("sliding_out").count() === 0) // nothing closed yet
      // advance event time far enough that both overlapping windows close
      input.addData(("s9", t("2026-01-01 10:30:00")))
      q.processAllAvailable()
      val rows = spark.table("sliding_out").collect()
        .map(r => r.getTimestamp(0).toString -> ((r.getLong(2), r.getLong(3)))).toMap
      // 10:01 and 10:03 land in BOTH [09:55,10:05) and [10:00,10:10)
      assert(rows("2026-01-01 09:55:00.0") === ((2L, 2L)))
      assert(rows("2026-01-01 10:00:00.0") === ((2L, 2L)))
    } finally q.stop()
  }

  test("stateful anomaly windows accumulate across micro-batches (append mode)") {
    import spark.implicits._
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, java.sql.Timestamp)](spark)
    val stream = input.toDF().toDF("session_id", "event_ts")
    // the hot mart's transform over a watermarked stream: window state
    // accumulates across batches and each window emits once, when the
    // watermark closes it
    val out = graft.marts.HotMarts.anomalySessions(
      stream.withWatermark("event_ts", "1 minute"), "5 minutes", warnAt = 2, criticalAt = 3)
    val q = out.writeStream.format("memory").queryName("anomalies_out")
      .outputMode("append").start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      // batch 1: one event in the 10:00 window — per-batch logic would never flag it
      input.addData(("s1", t("2026-01-01 10:01:00")))
      q.processAllAvailable()
      // batch 2: second event in the SAME window (burst split across batches)
      input.addData(("s1", t("2026-01-01 10:02:00")))
      q.processAllAvailable()
      assert(spark.table("anomalies_out").count() === 0) // window not closed yet
      // batch 3: event time advances past window end + watermark → emit
      input.addData(("s2", t("2026-01-01 10:30:00")))
      q.processAllAvailable()
      val rows = spark.table("anomalies_out").collect()
      assert(rows.length === 1)
      assert(rows.head.getAs[String]("session_id") === "s1")
      assert(rows.head.getAs[Long]("event_count") === 2) // cross-batch accumulation
      assert(rows.head.getAs[String]("severity") === "WARNING")
    } finally q.stop()
  }

  test("hot-mart stream: per-batch fan-out computes all four marts") {
    val inDir = tmpDir("hot_in")
    val ckDir = tmpDir("hot_ck")
    // write a curated batch as parquet for the file stream
    val lines = Seq(
      Fixtures.rawEventJson("s1", 1, "2026-01-01T15:00:00+00:00", "2026-01-01", dedupKey = "a1"),
      Fixtures.rawEventJson("s1", 1, "2026-01-01T15:00:30+00:00", "2026-01-01", dedupKey = "a2"),
      Fixtures.rawEventJson("s2", 2, "2026-01-01T15:04:00+00:00", "2026-01-01", dedupKey = "a3"))
    import spark.implicits._
    val curated = graft.ingest.Normalizer.fromJsonLines(
      spark.createDataset(lines).toDF("json"))
    curated.write.parquet(inDir + "/data")

    val src = HotMartStreamJob.parquetSource(spark, inDir + "/data", curated.schema, 10)
    @volatile var got: Option[HotMartStreamJob.HotMartBatch] = None
    val q = HotMartStreamJob.start(src, b => got = Some(b), ckDir, Trigger.AvailableNow())
    q.awaitTermination(120000)

    val b = got.get
    assert(b.trafficMinute.count() === 2)      // minutes 15:00 (x2) and 15:04
    assert(b.topDocs.orderBy("rank").collect().head.getAs[Int]("document_id") === 1)
    assert(b.categoryTrend.count() > 0)        // exploded clinical areas
    // s1 has 2 events in the 15:00 5-min window → warning at default 50? no:
    // default thresholds (50/100) yield no anomalies on 3 events
    assert(b.anomalies.count() === 0)
  }

  test("hot-mart stream serves committed curated batches only: a file outside the sink log is not read") {
    import spark.implicits._
    val inDir = tmpDir("commit_in")
    val outDir = tmpDir("commit_out") + "/curated"
    Fixtures.writeJsonl(inDir, "part-000.json", Seq(
      Fixtures.rawEventJson("s1", 1, "2026-01-01T15:00:00+00:00", "2026-01-01", dedupKey = "c1"),
      Fixtures.rawEventJson("s2", 2, "2026-01-01T15:00:30+00:00", "2026-01-01", dedupKey = "c2")))
    CuratedStreamJob.start(
      CuratedStreamJob.curate(CuratedStreamJob.jsonlSource(spark, inDir), rawIsKafka = false),
      outDir, tmpDir("commit_ck"), Trigger.AvailableNow()).awaitTermination(120000)
    // a batch caught mid-commit: its data file is in the layer's partition
    // directory, its entry is not in the sink log yet
    val stray = tmpDir("commit_stray")
    graft.ingest.Normalizer.fromJsonLines(Seq(
        Fixtures.rawEventJson("s3", 3, "2026-01-01T15:00:40+00:00", "2026-01-01", dedupKey = "c3"),
        Fixtures.rawEventJson("s3", 3, "2026-01-01T15:07:00+00:00", "2026-01-01", dedupKey = "c4"))
      .toDF("json"))
      .coalesce(1).write.mode("overwrite").partitionBy("event_date").parquet(stray)
    val part = new java.io.File(outDir, "event_date=2026-01-01")
    new java.io.File(stray, "event_date=2026-01-01").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .foreach(f => assert(f.renameTo(new java.io.File(part, "stray-" + f.getName))))

    var served = Seq.empty[(String, Long, Long)]
    HotMartStreamJob.start(
      HotMartStreamJob.parquetSource(spark, outDir, graft.schema.TripClick.curatedSchema),
      b => served ++= b.trafficMinute.collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getLong(2))),
      tmpDir("commit_hot_ck"), Trigger.AvailableNow()).awaitTermination(120000)
    // the 15:00 minute is served once, from the committed rows only
    assert(served === Seq(("2026-01-01 15:00:00.0", 2L, 2L)))
    assert(spark.read.parquet(outDir).count() === 2)
  }

  test("hot marts are equal on the one-partition and the multi-partition path; " +
      "one partition plans no Exchange") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.Exchange
    import spark.implicits._
    val inDir = tmpDir("gate_in")
    // 3 minutes, 5 sessions, 7 documents, and a 60-click burst of one
    // session inside one 5-minute window (a WARNING anomaly)
    val lines = (0 until 120).map { i =>
      Fixtures.rawEventJson(s"s${i % 5}", i % 7, f"2026-01-01T15:0${i % 3}:${i % 60}%02d+00:00",
        "2026-01-01", clinicalAreas = if (i % 2 == 0) ",Oncology,Surgery" else "Cardiology",
        dedupKey = s"g$i")
    } ++ (0 until 60).map { i =>
      Fixtures.rawEventJson("burst", 9, f"2026-01-01T15:0${i % 4}:${i}%02d+00:00", "2026-01-01",
        dedupKey = s"b$i")
    }
    graft.ingest.Normalizer.fromJsonLines(lines.toDF("json"))
      .repartition(3).write.parquet(inDir + "/data")

    def exchanges(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
      case s: QueryStageExec => exchanges(s.plan)
      case e: Exchange => 1 + exchanges(e.child)
      case _ => p.children.map(exchanges).sum
    }
    /** The four marts of one micro-batch over the layer (wall-clock column
      * dropped), and the shuffles in each one's plan. */
    def marts(): (Seq[Seq[String]], Seq[Int]) = {
      var got: (Seq[Seq[String]], Seq[Int]) = null
      HotMartStreamJob.start(
        HotMartStreamJob.parquetSource(spark, inDir + "/data", graft.schema.TripClick.curatedSchema),
        b => {
          val frames = Seq(b.trafficMinute.drop("updated_at"), b.topDocs, b.categoryTrend, b.anomalies)
          val rows = frames.map(_.collect().map(_.toString).toSeq.sorted)
          val shuffles = frames.map(f => exchanges(f.queryExecution.executedPlan))
          got = (rows, shuffles)
        },
        tmpDir("gate_ck"), Trigger.AvailableNow()).awaitTermination(120000)
      got
    }
    val (one, oneShuffles) = marts()
    val (many, manyShuffles) = withGateBudget("1")(marts())
    assert(oneShuffles === Seq(0, 0, 0, 0), "one-partition marts plan no Exchange")
    assert(manyShuffles.head > 0, "the multi-partition path ran")
    assert(one === many)
    assert(one.head.size === 4)  // 15:00..15:03
    assert(one(3).size === 1)    // the burst
  }

  test("crash recovery: worker dies between sink write and checkpoint commit; " +
      "restart replays the batch, keyed JDBC layer stays exactly-once") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val inDir = tmpDir("crash_in")
    val outDir = tmpDir("crash_out") + "/curated"
    val ckDir = tmpDir("crash_ck")
    val e1 = Fixtures.rawEventJson("s1", 1, "2026-01-01T15:00:00+00:00", "2026-01-01", dedupKey = "k1")
    val e2 = Fixtures.rawEventJson("s1", 2, "2026-01-01T15:01:00+00:00", "2026-01-01", dedupKey = "k2")
    val e3 = Fixtures.rawEventJson("s2", 3, "2026-01-01T15:02:00+00:00", "2026-01-01", dedupKey = "k3")
    Fixtures.writeJsonl(inDir, "part-000.json", Seq(e1, e2))
    Fixtures.writeJsonl(inDir, "part-001.json", Seq(e3))
    // the file source orders by modification time — pin distinct mtimes so
    // batch 0 is deterministically (k1,k2) and batch 1 is (k3)
    val f0 = new java.io.File(inDir, "part-000.json")
    val f1 = new java.io.File(inDir, "part-001.json")
    assert(f0.setLastModified(f1.lastModified() - 60000))

    def run() = CuratedStreamJob.start(
      CuratedStreamJob.curate(
        CuratedStreamJob.jsonlSource(spark, inDir, maxFilesPerTrigger = 1), rawIsKafka = false),
      outDir, ckDir, Trigger.AvailableNow())
    // run 1: batch 0 (k1,k2) and batch 1 (k3) commit to the sink log and
    // then to the checkpoint; with no watermark-only batch after them, k3's
    // batch is the last one
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.set(noData, "false")
    try run().awaitTermination(120000) finally spark.conf.unset(noData)
    val commits = new java.io.File(ckDir, "commits")
    def committed = commits.listFiles().map(_.getName).filter(_.forall(_.isDigit)).map(_.toLong)
    val last = committed.max
    assert(last === 1L)
    // the crash: the sink committed batch 1 to its log, the worker died
    // before the checkpoint's commits/1 was written
    assert(new java.io.File(commits, last.toString).delete())
    new java.io.File(commits, s".$last.crc").delete()
    // run 2: restart from the same checkpoint — Spark re-runs batch 1 from
    // its offset log; the file sink finds batch 1 in its log and writes nothing
    val q2 = run()
    q2.awaitTermination(120000)
    assert(q2.recentProgress.map(_.batchId).contains(last), s"batch $last re-ran")
    assert(committed.contains(last))

    val out = spark.read.parquet(outDir)
    // nothing lost, nothing doubled: the re-run batch is in the layer once
    assert(out.select("dedup_key").distinct().count() === 3)
    assert(out.filter($"dedup_key" === "k3").count() === 1)
    assert(out.filter($"dedup_key" === "k1").count() === 1)
    assert(out.filter($"dedup_key" === "k2").count() === 1)

    // downstream serving layer: keyed upsert absorbs a replay — feeding
    // the curated layer through twice still yields exactly one row per key
    val url = "jdbc:derby:memory:graft_crash;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    conn.createStatement().executeUpdate(
      "CREATE TABLE curated_events (\"dedup_key\" VARCHAR(64) PRIMARY KEY, \"session_id\" VARCHAR(50))")
    conn.close()
    val types = Some("dedup_key VARCHAR(64), session_id VARCHAR(50)")
    val serve = graft.ingest.Normalizer.dedupFirst(
        out.select("dedup_key", "session_id", "event_ts"),
        Seq("dedup_key"), Seq(col("event_ts")))
      .select("dedup_key", "session_id")
    Seq(1L, 2L).foreach { b =>
      graft.sinks.JdbcUpsertSink.upsert(serve, url, "curated_events",
        Seq("dedup_key"), graft.sinks.JdbcUpsertSink.AnsiMergeDialect,
        batchId = b, stagingColumnTypes = types)
    }
    val c2 = java.sql.DriverManager.getConnection(url)
    val rs = c2.createStatement().executeQuery(
      "SELECT COUNT(*), COUNT(DISTINCT \"dedup_key\") FROM curated_events")
    rs.next()
    val (n, nk) = (rs.getInt(1), rs.getInt(2))
    c2.close()
    assert(n === 3 && nk === 3) // exactly-once at the serving layer
  }
}
