package graft

import graft.pipeline.DailyPipeline

class PipelineSpec extends SparkSpec {

  test("daily pipeline: raw jsonl → archive → curated (deduped) → 4 marts") {
    val inDir = tmpDir("pipe_in")
    val root = tmpDir("pipe_root")
    val lines = Seq(
      Fixtures.rawEventJson("s1", 1, "2026-01-01T15:00:00+00:00", "2026-01-01", dedupKey = "k1"),
      Fixtures.rawEventJson("s1", 1, "2026-01-01T15:00:00+00:00", "2026-01-01", dedupKey = "k1"), // dup
      Fixtures.rawEventJson("s1", 2, "2026-01-01T15:05:00+00:00", "2026-01-01", dedupKey = "k2"),
      Fixtures.rawEventJson("s2", 3, "2026-01-02T10:00:00+00:00", "2026-01-02", dedupKey = "k3"))
    Fixtures.writeJsonl(inDir, "events.json", lines)

    val counts = DailyPipeline.run(spark, inDir, root)
    assert(counts("archive_raw") === 4)   // archive keeps duplicates
    assert(counts("curated") === 3)       // dedup_key k1 collapsed
    assert(counts("mart_session_analysis") === 2)  // (s1,d1), (s2,d2)
    assert(counts("mart_daily_traffic") === 2)     // 2 days
    assert(counts("mart_popular_documents") === 3) // 3 distinct (day,doc)
    assert(counts("mart_clinical_areas") > 0)
  }

  test("batch quarantine: corrupt lines divert to the dead-letter layer, marts unaffected") {
    val inDir = tmpDir("dlq_batch_in")
    val root = tmpDir("dlq_batch_root")
    val corrupt = """{"SessionId":"sX","DocumentId": not valid json at all"""
    Fixtures.writeJsonl(inDir, "events.json", Seq(
      Fixtures.rawEventJson("s1", 1, "2026-01-01T15:00:00+00:00", "2026-01-01", dedupKey = "b1"),
      corrupt,
      Fixtures.rawEventJson("s2", 2, "2026-01-01T15:05:00+00:00", "2026-01-01", dedupKey = "b2")))

    val counts = DailyPipeline.run(spark, inDir, root)
    assert(counts("archive_raw") === 2)   // clean rows only
    assert(counts("curated") === 2)
    val q = spark.read.parquet(root + "/quarantine").collect()
    assert(q.length === 1)
    assert(q.head.getAs[String]("raw") === corrupt)
    assert(q.head.getAs[String]("reject_reason") === "unparseable_json")
  }

  test("serving load: cold marts land in the JDBC store (K5, L2P stage)") {
    val inDir = tmpDir("serve_in")
    val root = tmpDir("serve_root")
    Fixtures.writeJsonl(inDir, "events.json", Seq(
      Fixtures.rawEventJson("s1", 1, "2026-01-01T15:00:00+00:00", "2026-01-01", dedupKey = "x1"),
      Fixtures.rawEventJson("s2", 2, "2026-01-01T15:10:00+00:00", "2026-01-01", dedupKey = "x2")))
    DailyPipeline.run(spark, inDir, root)

    val url = "jdbc:derby:memory:graft_serving;create=true"
    val counts = DailyPipeline.loadToServing(spark, DailyPipeline.Layout(root), url)
    assert(counts("mart_session_analysis") === 2)
    val conn = java.sql.DriverManager.getConnection(url)
    val rs = conn.createStatement().executeQuery(
      "SELECT count(*) FROM mart_daily_traffic")
    rs.next()
    assert(rs.getInt(1) === 1) // one day
    conn.close()
  }

  test("hot-mart stream -> JDBC upsert round trip (K7 serving integration)") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.sinks.JdbcUpsertSink
    import graft.streaming.HotMartStreamJob

    val url = "jdbc:derby:memory:graft_hot;create=true"
    val c0 = java.sql.DriverManager.getConnection(url)
    c0.createStatement().executeUpdate(
      "CREATE TABLE rt_traffic (\"minute_key\" VARCHAR(32) PRIMARY KEY, \"total_clicks\" INT)")
    c0.close()

    val inDir = tmpDir("hotjdbc_in")
    val ckDir = tmpDir("hotjdbc_ck")
    import spark.implicits._
    val curated = graft.ingest.Normalizer.fromJsonLines(spark.createDataset(Seq(
      Fixtures.rawEventJson("s1", 1, "2026-01-01T15:00:10+00:00", "2026-01-01", dedupKey = "h1"),
      Fixtures.rawEventJson("s1", 2, "2026-01-01T15:00:40+00:00", "2026-01-01", dedupKey = "h2"),
      Fixtures.rawEventJson("s2", 3, "2026-01-01T15:02:00+00:00", "2026-01-01", dedupKey = "h3")
    )).toDF("json"))
    curated.write.parquet(inDir + "/data")

    val src = HotMartStreamJob.parquetSource(spark, inDir + "/data", curated.schema, 10)
    val q = HotMartStreamJob.start(src, b => {
      val tm = b.trafficMinute.selectExpr(
        "CAST(event_minute AS STRING) AS minute_key",
        "CAST(total_clicks AS INT) AS total_clicks")
      JdbcUpsertSink.upsert(tm, url, "rt_traffic", Seq("minute_key"),
        JdbcUpsertSink.AnsiMergeDialect, b.batchId,
        stagingColumnTypes = Some("minute_key VARCHAR(32), total_clicks INT"))
    }, ckDir, Trigger.AvailableNow())
    q.awaitTermination(120000)

    val conn = java.sql.DriverManager.getConnection(url)
    val rs = conn.createStatement().executeQuery(
      "SELECT \"minute_key\", \"total_clicks\" FROM rt_traffic ORDER BY \"minute_key\"")
    val rows = Iterator.continually(rs).takeWhile(_.next())
      .map(r => (r.getString(1), r.getInt(2))).toList
    conn.close()
    assert(rows.map(_._2) === List(2, 1)) // 15:00 has two clicks, 15:02 one
  }

  test("incremental mart refresh touches only the partitions of new events") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.pipeline.IncrementalMart
    import graft.marts.ColdMarts

    val root = tmpDir("incr")
    val curatedPath = root + "/curated"
    val martPath = root + "/mart_daily"
    def mkCurated(rows: Seq[(String, Int, String, String)]) =
      rows.map { case (s, d, ts, day) =>
        (s, d, java.sql.Timestamp.valueOf(ts), java.sql.Date.valueOf(day))
      }.toDF("session_id", "document_id", "event_ts", "event_date")
    // spark names every data file by its write's UUID: a rewritten
    // partition holds new names, an untouched one its old ones
    def dataFiles(day: String) = new java.io.File(s"$martPath/event_date=$day")
      .listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet

    // day1 + day2 curated; full mart build
    mkCurated(Seq(
      ("a", 1, "2026-01-01 10:00:00", "2026-01-01"),
      ("b", 2, "2026-01-02 11:00:00", "2026-01-02")))
      .write.partitionBy("event_date").parquet(curatedPath)
    IncrementalMart.overwriteTouchedPartitions(
      ColdMarts.dailyTraffic(spark.read.parquet(curatedPath)), martPath)
    val (day1Before, day2Before) = (dataFiles("2026-01-01"), dataFiles("2026-01-02"))

    // new events arrive for day2 only → append to curated, refresh day2
    mkCurated(Seq(
      ("c", 3, "2026-01-02 12:00:00", "2026-01-02"),
      ("b", 2, "2026-01-02 13:00:00", "2026-01-02")))
      .write.mode("append").partitionBy("event_date").parquet(curatedPath)
    IncrementalMart.refresh(spark, curatedPath, mkCurated(Nil).schema, martPath,
      Seq("2026-01-02"), df => ColdMarts.dailyTraffic(df))

    val mart = spark.read.parquet(martPath)
    val day2 = mart.filter(col("event_date") === "2026-01-02").collect().head
    assert(day2.getAs[Long]("total_events") === 3)
    assert(day2.getAs[Long]("unique_sessions") === 2)
    // day1 partition rows intact and its files untouched by the refresh
    assert(mart.filter(col("event_date") === "2026-01-01").count() === 1)
    assert(dataFiles("2026-01-01") === day1Before, "untouched partition must not be rewritten")
    assert((dataFiles("2026-01-02") & day2Before).isEmpty, "the touched partition is rewritten")
  }

  /** Five daily drops: each holds its day's events, two late events dated
    * the day before, in-day duplicates, replays of four lines of the
    * previous drop (its late events, dated two days back, among them) and a
    * corrupt line. */
  private def lawDrops: Seq[Seq[String]] = {
    val areas = Seq(",Oncology,Surgery", "Cardiology", "")
    val start = java.time.LocalDate.of(2026, 2, 1)
    def event(s: Int, doc: Int, day: java.time.LocalDate, h: Int, m: Int, area: Int) =
      Fixtures.rawEventJson(s"s$s", doc, f"${day}T$h%02d:$m%02d:00+00:00", day.toString,
        clinicalAreas = areas(area % areas.size), title = s"title $doc")
    (0 until 5).foldLeft(Vector.empty[Seq[String]]) { (drops, d) =>
      val day = start.plusDays(d.toLong)
      val late = if (d == 0) Nil else (0 until 2).map(i => event(d + i, d + 7 * i, day.minusDays(1), 23, 10 * d + i, i))
      val fresh = (0 until 10).map(i => event((d * 3 + i) % 5, (d + i) % 6, day, 8 + i % 9, (7 * i + d) % 60, i + d))
      val replays = drops.lastOption.toSeq.flatMap(_.take(4))
      drops :+ (late ++ fresh ++ fresh.take(3) ++ replays :+ s"""{"SessionId":"bad$d", broken""")
    }
  }

  /** Curated, the four marts and the four served tables, each as a sorted
    * multiset of rendered rows. */
  private def lakeState(root: String, url: String): Map[String, Seq[String]] = {
    val layout = DailyPipeline.Layout(root)
    def rows(path: String) = spark.read.parquet(path).collect().map(_.toString).toSeq.sorted
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      def served(table: String) = {
        val rs = conn.createStatement().executeQuery(s"SELECT * FROM $table")
        val n = rs.getMetaData.getColumnCount
        Iterator.continually(rs).takeWhile(_.next())
          .map(r => (1 to n).map(i => r.getString(i)).mkString("|")).toSeq.sorted
      }
      Map("curated" -> rows(layout.curated)) ++
        DailyPipeline.coldMartNames.map(m => m -> rows(layout.mart(m))) ++
        DailyPipeline.coldMartNames.map(m => s"served.$m" -> served(m))
    } finally conn.close()
  }

  // the law and crash-replay tests at the default gate budget, where the
  // cold marts' pending slice is one partition, and at 1 byte, where it
  // keeps its partitions; the tag keeps their Derby databases apart
  for (budget <- Seq(None, Some("1"))) {
    val suffix = budget.fold("")(b => s" ($b-byte gate budget)")
    val tag = budget.fold("")("_b" + _)
    def atBudget(body: => Unit): Unit = budget.fold(body)(withGateBudget(_)(body))
    test("law: daily drops taken one day at a time ≡ all drops taken in one cycle on a fresh lake" + suffix)(
      atBudget(law(tag)))
    test("crash replay: a stage rerun on its restored pending markers leaves every output unchanged" + suffix)(
      atBudget(crashReplay(tag)))
  }

  /** The law: the drops one day at a time leave the lake and serving as one
    * cycle over all of them on a fresh lake does. */
  private def law(tag: String): Unit = {
    val drops = lawDrops
    val incRoot = tmpDir("law_inc")
    val incUrl = s"jdbc:derby:memory:law_inc$tag;create=true"
    val counts = drops.zipWithIndex.map { case (lines, d) =>
      val in = Fixtures.writeJsonl(tmpDir(s"law_in_$d"), "events.json", lines)
      val c = DailyPipeline.run(spark, in, incRoot)
      c ++ DailyPipeline.loadToServing(spark, DailyPipeline.Layout(incRoot), incUrl)
        .map { case (k, v) => s"served.$k" -> v }
    }
    val allIn = tmpDir("law_all_in")
    drops.zipWithIndex.foreach { case (lines, d) => Fixtures.writeJsonl(allIn, s"drop-$d.json", lines) }
    val fullRoot = tmpDir("law_full")
    val fullUrl = s"jdbc:derby:memory:law_full$tag;create=true"
    val full = DailyPipeline.run(spark, allIn, fullRoot)
    DailyPipeline.loadToServing(spark, DailyPipeline.Layout(fullRoot), fullUrl)

    val inc = lakeState(incRoot, incUrl)
    val rebuilt = lakeState(fullRoot, fullUrl)
    assert(inc.keySet === rebuilt.keySet)
    inc.keys.foreach(k => assert(inc(k) === rebuilt(k), k))
    // the fixture exercises every seam: late and replayed rows, duplicates
    assert(full("archive_raw") === drops.map(_.size - 1).sum)
    assert(full("curated") === inc("curated").size)
    assert(full("curated") < full("archive_raw") - drops.size)
    assert(inc("mart_daily_traffic").size === drops.size)
    // whole-layer totals after the last day equal the rebuild's
    Seq("archive_raw", "curated") ++ DailyPipeline.coldMartNames foreach { k =>
      assert(counts.last(k) === full(k), k)
    }
    // a later day loads the changed dates only: its own and the late events' date
    val lastTraffic = counts.last("served.mart_daily_traffic")
    assert(lastTraffic === 2, "day 5 changes two dates of mart_daily_traffic")
    assert(!new java.io.File(s"$incRoot/_pending/curate").list().exists(!_.startsWith(".")))
  }

  /** On the last day, each stage is rerun on the markers it consumed, as
    * after a crash before their deletion; no output may change. */
  private def crashReplay(tag: String): Unit = {
    val drops = lawDrops
    val root = tmpDir("replay")
    val url = s"jdbc:derby:memory:law_replay$tag;create=true"
    val layout = DailyPipeline.Layout(root)
    val pending = java.nio.file.Paths.get(root, "_pending")
    def markers(): Set[java.nio.file.Path] =
      if (!java.nio.file.Files.exists(pending)) Set.empty
      else {
        val s = java.nio.file.Files.walk(pending)
        try s.filter(p => java.nio.file.Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
          .toArray.map(_.asInstanceOf[java.nio.file.Path]).toSet
        finally s.close()
      }
    val stages: Seq[(String, () => Unit)] = Seq(
      "curate" -> (() => DailyPipeline.curate(spark, layout)),
      "cold_marts" -> (() => DailyPipeline.coldMarts(spark, layout)),
      "serving" -> (() => DailyPipeline.loadToServing(spark, layout, url)))
    drops.zipWithIndex.foreach { case (lines, d) =>
      DailyPipeline.archiveRaw(spark, Fixtures.writeJsonl(tmpDir(s"replay_in_$d"), "events.json", lines), layout)
      stages.foreach { case (name, stage) =>
        val before = markers()
        stage()
        val consumed = before -- markers()
        if (d == drops.size - 1) {
          assert(consumed.nonEmpty, s"$name consumed no markers on the last day")
          // the stage died before deleting its markers: restore, rerun
          val done = lakeState(root, url)
          consumed.foreach(p => java.nio.file.Files.createFile(p))
          stage()
          assert(lakeState(root, url) === done, s"$name rerun changed an output")
          assert((consumed & markers()).isEmpty, s"$name rerun left its markers")
        }
      }
    }
  }

  test("compile once: a warm day reuses the generated classes of the days before it") {
    import org.apache.spark.metrics.source.CodegenMetrics
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val root = tmpDir("compile_once")
    val layout = DailyPipeline.Layout(root)
    val url = "jdbc:derby:memory:compile_once;create=true"
    val stages: Seq[(String, String => Unit)] = Seq(
      "archive_raw" -> (in => DailyPipeline.archiveRaw(spark, in, layout)),
      "curate" -> (_ => DailyPipeline.curate(spark, layout)),
      "cold_marts" -> (_ => DailyPipeline.coldMarts(spark, layout)),
      "serving" -> (_ => DailyPipeline.loadToServing(spark, layout, url)))
    val perDay = lawDrops.zipWithIndex.map { case (lines, d) =>
      val in = Fixtures.writeJsonl(tmpDir(s"compile_once_in_$d"), "events.json", lines)
      stages.map { case (name, stage) =>
        val before = compiles
        stage(in)
        name -> (compiles - before)
      }.toMap
    }
    // day 1 has no late events or replays and creates the served tables;
    // from day 3 on a day's plans are all seen before. Archive still
    // compiles: codegen inlines its ingest stamp, a folded current_timestamp()
    perDay.zipWithIndex.drop(2).foreach { case (c, d) =>
      Seq("curate", "cold_marts", "serving").foreach { s =>
        assert(c(s) === 0, s"day ${d + 1}: $s compiled ${c(s)} classes")
      }
      assert(c.values.sum <= 3, s"day ${d + 1} compiled ${c.values.sum} classes: $c")
    }
  }

  /** Listeners hear of an execution on Spark's listener thread: drain it. */
  private def drain(): Unit = {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  test("cold marts: one call scans the pending curated partitions once for all four marts") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val root = tmpDir("one_read")
    val layout = DailyPipeline.Layout(root)
    lawDrops.take(2).zipWithIndex.foreach { case (lines, d) =>
      DailyPipeline.archiveRaw(spark, Fixtures.writeJsonl(tmpDir(s"one_read_in_$d"), "events.json", lines), layout)
    }
    DailyPipeline.curate(spark, layout)
    // every curated file scan in the executed plans, a cached plan's once
    val scans = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[FileSourceScanExec, java.lang.Boolean])
    def collect(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => collect(a.executedPlan)
      case q: QueryStageExec => collect(q.plan)
      case m: InMemoryTableScanExec => collect(m.relation.cachedPlan)
      case f: FileSourceScanExec =>
        if (f.relation.location.rootPaths.exists(_.toUri.getPath.startsWith(layout.curated + "/"))) scans.add(f)
      case _ => p.children.foreach(collect)
    }
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = collect(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    drain()
    spark.listenerManager.register(listener)
    val totals =
      try DailyPipeline.coldMarts(spark, layout)
      finally { drain(); spark.listenerManager.unregister(listener) }
    assert(totals("mart_daily_traffic") === 2, "both days are pending")
    assert(scans.size === 1)
  }

  test("memory gate: no task of the cold marts or of a hot micro-batch peaks above 8 MB of execution memory") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    import graft.core.SizeGate
    import graft.streaming.HotMartStreamJob
    val root = tmpDir("memory_gate")
    val layout = DailyPipeline.Layout(root)
    DailyPipeline.archiveRaw(spark, Fixtures.writeJsonl(tmpDir("memory_gate_in"), "events.json", lawDrops.head), layout)
    DailyPipeline.curate(spark, layout)
    // a task's first Tungsten page is allocated whole, so the page is the
    // floor of every hash aggregate, sort and broadcast hash relation.
    // Measured at the engine's 1 MB page: 3,211,264 B in the busiest task;
    // at Spark's default (64 MB at a 7-8g heap on local[4]) 135,331,808 B
    val bound = 8388608L // 8 MB, under the 16 MB default page of a 3g heap
    val peaks = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => peaks.add(e.stageId -> m.peakExecutionMemory))
    }
    drain()
    spark.sparkContext.addSparkListener(listener)
    try {
      DailyPipeline.coldMarts(spark, layout)
      SizeGate.withSlice(spark.read.parquet(layout.curated)) { slice =>
        val b = HotMartStreamJob.computeBatch(slice, 0L)
        Seq(b.trafficMinute, b.topDocs, b.categoryTrend, b.anomalies).foreach(_.collect())
      }
    } finally { drain(); spark.sparkContext.removeSparkListener(listener) }
    val all = peaks.asScala.toSeq
    assert(all.exists(_._2 > 0), "no task used execution memory: the gate measured nothing")
    val over = all.filter(_._2 > bound)
    assert(over.isEmpty, s"(stage, bytes) of the tasks over $bound bytes of execution memory: $over")
  }

  test("serving load replaces changed dates in place: the table, its index and untouched dates survive") {
    val root = tmpDir("serve_keep")
    val layout = DailyPipeline.Layout(root)
    val url = "jdbc:derby:memory:serve_keep;create=true"
    def day(d: Int, lines: String*) = {
      DailyPipeline.run(spark, Fixtures.writeJsonl(tmpDir(s"serve_keep_$d"), "events.json", lines), root)
      DailyPipeline.loadToServing(spark, layout, url)
    }
    day(1,
      Fixtures.rawEventJson("s1", 1, "2026-03-01T10:00:00+00:00", "2026-03-01"),
      Fixtures.rawEventJson("s2", 2, "2026-03-01T11:00:00+00:00", "2026-03-01"))
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.createStatement().executeUpdate(
        "CREATE INDEX traffic_by_date ON mart_daily_traffic (\"event_date\")")
      def traffic() = {
        val rs = conn.createStatement().executeQuery(
          "SELECT \"event_date\", \"total_events\" FROM mart_daily_traffic ORDER BY 1")
        Iterator.continually(rs).takeWhile(_.next()).map(r => (r.getString(1), r.getLong(2))).toList
      }
      val day1 = traffic()
      // no clinical area: the changed date has no mart_clinical_areas partition
      val loaded = day(2,
        Fixtures.rawEventJson("s3", 3, "2026-03-02T09:00:00+00:00", "2026-03-02", clinicalAreas = ""))
      assert(loaded("mart_daily_traffic") === 1, "only the new date is loaded")
      assert(loaded("mart_clinical_areas") === 0)
      assert(traffic() === day1 :+ (("2026-03-02", 1L)))
      val idx = conn.getMetaData.getIndexInfo(null, null, "MART_DAILY_TRAFFIC", false, false)
      val names = Iterator.continually(idx).takeWhile(_.next()).map(_.getString("INDEX_NAME")).toSet
      assert(names.contains("TRAFFIC_BY_DATE"), names)
    } finally conn.close()
  }

  test("pretrain pipeline capstone: every stage acts on its planted doc, composition ≡ stage-by-stage") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.analysis.{CorpusPrep, Dedup, TextAnalysis}
    // 38 distinct content words + 2 stopwords → quality 76.00 (length 16
    // + diversity 40 + stopword-band 20); disjoint prefixes keep the
    // docs pairwise non-near-dup unless planted
    def mk(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ") + " the of"
    val contamPhrase = (1 to 10).map(i => s"p$i").mkString(" ") // ≥ k+w−1=8
    val docs = Seq(
      (1L, mk("aa", 38), "web"),              // survivor (exact-dup keeper)
      (2L, mk("aa", 38), "web"),              // exact dup of 1 → dropped (stage 2)
      (3L, "x x x x x", "web"),               // quality 10 < 35 → dropped (stage 1)
      (4L, mk("na", 38), "web"),              // near-dup LOSER: lower quality...
      (5L, mk("na", 38) + " zz1", "web"),     // ...than 5 (76.40) → 5 keeps (stage 3, NOT min-id)
      (6L, mk("ca", 28) + " " + contamPhrase, "web"), // shares a 10-token run with eval → dropped (stage 4)
      (7L, mk("da", 38), "web"),
      (8L, mk("fa", 38), "web"),
      (9L, mk("ga", 38), "web"),
      (10L, mk("ha", 38), "books"),
      (11L, mk("ja", 38), "books"),
      (17L, contamPhrase + " " + mk("ea", 20), "web") // the eval slice (17 % 17 = 0)
    ).toDF("doc_id", "text", "source")

    val out = CorpusPrep.pretrainPipeline(docs, ctxTokens = 8)
      .collect().map(_.toSeq).toSeq

    // hand-derived ground truth after stages 1–4 (quality gate, exact
    // dedup, keeper policy, decontam + eval holdout)
    val cleanIds = Set(1L, 5L, 7L, 8L, 9L, 10L, 11L)
    val clean = docs.filter(col("doc_id").isin(cleanIds.toSeq: _*))

    // stage-by-stage dataflow must agree with the one-call composition
    val kept = CorpusPrep.temperatureKeep(clean)
    val expected = CorpusPrep.sequencePack(kept, ctxTokens = 8)
      .collect().map(_.toSeq).toSeq
    assert(out === expected)

    // the keeper-policy stage really flipped min-id: 5 survives, 4 doesn't
    val stats = TextAnalysis.textStats(docs)
    val scored = stats.select(col("doc_id"),
      floor(col("quality_score") * 100 + 0.5).cast("long").as("quality_centi"))
    val qualityPass = docs.join(
      stats.filter(col("quality_score") >= 35.0).select("doc_id"), Seq("doc_id"))
    val exact = Dedup.dedupExact(qualityPass)
    assert(!exact.collect().map(_.getLong(0)).contains(2L)) // exact loser
    val verdicts = Dedup.dedupClustersKeepBest(
        Dedup.minhashNearDupPairs(exact),
        scored.join(exact.select("doc_id"), Seq("doc_id")))
      .collect().map(r => (r.getLong(0), r.getBoolean(3))).toMap
    assert(verdicts(5L) && !verdicts(4L)) // higher QUALITY keeps, not lower id
    // decontam: 6 flagged against eval doc 17, clean sibling 7 untouched
    val contam = Dedup.winnowingDecontam(
        exact.filter(col("doc_id") % 17 =!= 0),
        docs.filter(col("doc_id") % 17 === 0))
      .collect().map(_.getLong(0)).toSet
    assert(contam.contains(6L) && !contam.contains(7L))
    // mixture: books (small source) caps at 10000 bp — all kept; web
    // downsamples (rate < 10000), kept count matches the q140 report
    val report = CorpusPrep.temperatureResample(clean)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getInt(3), r.getLong(4))).toMap
    assert(report("books")._2 === 10000 && report("books")._3 === 2L)
    assert(report("web")._2 < 10000)
    val keptBySource = kept.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(keptBySource.getOrElse("books", 0L) === 2L)
    assert(keptBySource.getOrElse("web", 0L) === report("web")._3)
    // histogram sanity: every kept doc starts in exactly one window
    val nStarts = out.map(r => r(2).asInstanceOf[Long]).sum
    assert(nStarts === kept.count())

    // the funnel report pins every stage boundary on the same fixture:
    // 12 ingested, 3 fails quality, 2 exact-dups into 1, keeper policy
    // drops 4, eval doc 17 held out, 6 decontaminated, mixture keeps all
    // books + the md5-gated web subset
    val funnel = CorpusPrep.pretrainFunnel(docs)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(funnel.map(t => (t._1, t._2)) === Seq(
      (0L, "ingest"), (1L, "quality"), (2L, "exact"), (3L, "keeper"),
      (4L, "holdout"), (5L, "decontam"), (6L, "mixture")))
    assert(funnel.map(_._3) === Seq(12L, 11L, 10L, 9L, 8L, 7L, kept.count()))
  }

  test("incremental capstone: artifact-fed increment ≡ whole rebuild, with every seam across the boundary") {
    import spark.implicits._
    import graft.analysis.CorpusPrep
    def mk(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ") + " the of"
    val contamPhrase = (1 to 10).map(i => s"p$i").mkString(" ")
    // boundary at id 12: the exact-dup pair (1 old, 13 new), the
    // keeper-flip near-dup pair (4 old, 14 new — the NEW member wins on
    // quality), and the contamination pair (eval 17 NEW, its quote
    // already in OLD doc 6) all STRADDLE the ingest boundary
    val docs = Seq(
      (1L, mk("aa", 38), "web"),
      (3L, "x x x x x", "web"),
      (4L, mk("na", 38), "web"),
      (6L, mk("ca", 28) + " " + contamPhrase, "web"),
      (7L, mk("da", 38), "web"),
      (8L, mk("fa", 38), "web"),
      (10L, mk("ha", 38), "books"),
      (11L, mk("ja", 38), "books"),
      (13L, mk("aa", 38), "web"),             // exact dup of OLD 1 → dropped
      (14L, mk("na", 38) + " zz1", "web"),    // flips OLD 4's keeper
      (15L, mk("ga", 38), "web"),
      (17L, contamPhrase + " " + mk("ea", 20), "web") // NEW eval doc
    ).toDF("doc_id", "text", "source")
    val old = docs.filter($"doc_id" <= 12)
    val fresh = docs.filter($"doc_id" > 12)
    val whole = CorpusPrep.pretrainPipeline(docs, ctxTokens = 8)
      .collect().map(_.toSeq).toSeq
    val inc = CorpusPrep.pretrainPipelineIncrement(
        CorpusPrep.pretrainArtifacts(old), fresh, ctxTokens = 8)
      .collect().map(_.toSeq).toSeq
    assert(inc === whole)
    // the seams really exercised: clean set = survivors after all four
    // text stages, hand-derived (13 exact-dropped, 4 keeper-flipped by
    // 14, 6 contaminated by the NEW eval doc, 3 low-quality, 17 eval)
    val clean = CorpusPrep.pretrainClean(docs)
      .collect().map(_.getLong(0)).toSet
    assert(clean === Set(1L, 7L, 8L, 10L, 11L, 14L, 15L))
  }

  test("funnel series: per-ingest rows are the as-of funnels, keyed and ordered by batch id") {
    import spark.implicits._
    import graft.analysis.CorpusPrep
    def mk(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ") + " the of"
    val docs = Seq(
      (1L, mk("aa", 38), "web"),
      (4L, mk("na", 38), "web"),
      (10L, mk("ha", 38), "books"),
      (13L, mk("aa", 38), "web"),            // exact dup of ingest-0 doc 1
      (14L, mk("na", 38) + " zz1", "web")    // flips ingest-0 doc 4's keeper
    ).toDF("doc_id", "text", "source")
    val b0 = docs.filter($"doc_id" <= 12)
    val b1 = docs.filter($"doc_id" > 12)
    val series = CorpusPrep.pretrainFunnelSeries(Seq(5L -> b0, 9L -> b1))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    def funnelOf(d: org.apache.spark.sql.DataFrame) =
      CorpusPrep.pretrainFunnel(d)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(series.filter(_._1 == 5L).map(t => (t._2, t._3, t._4)).toSeq
      === funnelOf(b0).toSeq)
    assert(series.filter(_._1 == 9L).map(t => (t._2, t._3, t._4)).toSeq
      === funnelOf(docs).toSeq)
    // non-monotonic ingest ids are a caller bug, loudly
    intercept[IllegalArgumentException] {
      CorpusPrep.pretrainFunnelSeries(Seq(9L -> b0, 5L -> b1))
    }
  }

  test("artifact layer round-trip: increment from read-back parquet state ≡ rebuild; empty deltas keep their schema") {
    import spark.implicits._
    import graft.analysis.CorpusPrep
    def mk(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ") + " the of"
    val contamPhrase = (1 to 10).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (1L, mk("aa", 38), "web"),
      (4L, mk("na", 38), "web"),
      (6L, mk("ca", 28) + " " + contamPhrase, "web"),
      (10L, mk("ha", 38), "books"),
      (13L, mk("aa", 38), "web"),
      (14L, mk("na", 38) + " zz1", "web"),
      (17L, contamPhrase + " " + mk("ea", 20), "web")
    ).toDF("doc_id", "text", "source")
    val old = docs.filter($"doc_id" <= 12)
    val fresh = docs.filter($"doc_id" > 12)
    val root = tmpDir("artifact_layer")
    // the OLD half has NO verified near-dup pairs: the pairs delta is an
    // EMPTY frame, pinning that an empty parquet write preserves schema
    // through the read-back (the silent-drift class this law exists for)
    val a = CorpusPrep.pretrainArtifacts(old)
    assert(a.pairs.isEmpty)
    CorpusPrep.writeArtifacts(a, root, version = 0L)
    val back = CorpusPrep.readArtifacts(spark, root, maxVersionExclusive = 1L)
    // dtypes survive the boundary exactly (parquet relaxes nullability —
    // names and types are the drift surface)
    assert(back.sketch.schema.simpleString === a.sketch.schema.simpleString)
    assert(back.pairs.schema.simpleString === a.pairs.schema.simpleString)
    assert(back.scored.schema.simpleString === a.scored.schema.simpleString)
    val whole = CorpusPrep.pretrainPipeline(docs, ctxTokens = 8)
      .collect().map(_.toSeq).toSeq
    val inc = CorpusPrep.pretrainPipelineIncrement(back, fresh, ctxTokens = 8)
      .collect().map(_.toSeq).toSeq
    assert(inc === whole)
  }

  test("pretrain stream job: two micro-batches ≡ whole rebuild, and a crash-replayed batch is idempotent") {
    import spark.implicits._
    import graft.analysis.CorpusPrep
    import graft.streaming.PretrainStreamJob
    def mk(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ") + " the of"
    val contamPhrase = (1 to 10).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (1L, mk("aa", 38), "web"),
      (4L, mk("na", 38), "web"),
      (6L, mk("ca", 28) + " " + contamPhrase, "web"),
      (7L, mk("da", 38), "web"),
      (10L, mk("ha", 38), "books"),
      (13L, mk("aa", 38), "web"),             // exact dup of batch-0 doc 1
      (14L, mk("na", 38) + " zz1", "web"),    // flips batch-0 doc 4's keeper
      (17L, contamPhrase + " " + mk("ea", 20), "web") // eval doc contaminating batch-0 doc 6
    ).toDF("doc_id", "text", "source")
    val b0 = docs.filter($"doc_id" <= 12)
    val b1 = docs.filter($"doc_id" > 12)
    val root = tmpDir("pretrain_stream_layer")
    val emitted = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Seq[Any]])]
    def sink(id: Long, df: org.apache.spark.sql.DataFrame): Unit =
      emitted += ((id, df.collect().map(_.toSeq).toSeq))
    // drive the exact foreachBatch body the streaming query runs
    PretrainStreamJob.processBatch(spark, b0, 0L, root, sink, ctxTokens = 8)
    PretrainStreamJob.processBatch(spark, b1, 1L, root, sink, ctxTokens = 8)
    val whole = CorpusPrep.pretrainPipeline(docs, ctxTokens = 8)
      .collect().map(_.toSeq).toSeq
    assert(emitted(1)._2 === whole)
    // CRASH REPLAY: batch 1 already wrote its layer version (v=1) but the
    // checkpoint never committed — the engine re-runs it. The replay must
    // read only pre-batch state (v < 1), overwrite its own leftovers, and
    // emit the identical readout; the layer must not double-count
    PretrainStreamJob.processBatch(spark, b1, 1L, root, sink, ctxTokens = 8)
    assert(emitted(2)._2 === whole)
    val layer = CorpusPrep.readArtifacts(spark, root, maxVersionExclusive = 2L)
    val rebuilt = CorpusPrep.pretrainArtifacts(docs)
    assert(layer.exactDocs.select("doc_id").collect().map(_.getLong(0)).sorted
      === rebuilt.exactDocs.select("doc_id").collect().map(_.getLong(0)).sorted)
    assert(layer.pairs.count() === rebuilt.pairs.count())
    // stream-written deltas must be explicitly file-sized: the rebalance
    // hint is inert without AQE in the micro-batch path, so processBatch
    // passes targetFiles=1 — assert one data file per kind per version
    // (round-14 verdict #5: the small-file spiral the compactor fights
    // must not be fed by the stream itself)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    for (kind <- Seq("exact", "fingerprints", "sketch", "pairs", "scored",
        "winnow_fps", "eval_fps"); v <- Seq(0L, 1L)) {
      val dir = new org.apache.hadoop.fs.Path(s"$root/$kind/v=$v")
      val dataFiles = fs.listStatus(dir)
        .count(_.getPath.getName.endsWith(".parquet"))
      assert(dataFiles == 1,
        s"$kind/v=$v wrote $dataFiles data files, want exactly 1")
    }
  }

  test("pretrain stream job: the source plan runs once per micro-batch; an empty batch writes no version") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, udf}
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.PretrainStreamJob
    def mk(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ") + " the of"
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String)](spark)
    // every row the source projection produces passes this counter once
    val sourceRows = spark.sparkContext.longAccumulator("pretrain_source_rows")
    val counted = udf { (id: Long) => sourceRows.add(1); id }.asNondeterministic()
    val source = input.toDF().toDF("doc_id", "text", "source")
      .filter(col("source") =!= "drop")
      .select(counted(col("doc_id")).as("doc_id"), col("text"), col("source"))
    val root = tmpDir("pretrain_stream_once")
    val emitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = PretrainStreamJob.start(source, root,
      (id, df) => { df.collect(); emitted += id },
      tmpDir("pretrain_stream_once_ck"), Trigger.ProcessingTime(0L), ctxTokens = 8)
    try {
      input.addData((1L, mk("aa", 38), "web"), (4L, mk("na", 38), "web"),
        (7L, mk("da", 38), "books"))
      q.processAllAvailable()
      input.addData((9L, mk("ea", 38), "drop")) // a batch that filters to nothing
      q.processAllAvailable()
    } finally q.stop()
    assert(sourceRows.value === 3L, "the source plan ran more than once for a batch")
    assert(emitted.toSeq === Seq(0L))
    assert(new java.io.File(root, "exact/v=0").isDirectory)
    assert(!new java.io.File(root, "exact/v=1").exists(), "the empty batch wrote a version")
  }

  test("increment law precondition fails loudly: non-monotonic batch ids throw") {
    import spark.implicits._
    import graft.analysis.CorpusPrep
    def mk(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ") + " the of"
    val old = Seq((5L, mk("aa", 38), "web"), (8L, mk("da", 38), "web"))
      .toDF("doc_id", "text", "source")
    // batch id 7 <= stored max 8: the exact-dedup anti-join would keep the
    // stored copy while a whole rebuild keeps the lower-id batch copy —
    // the silent-divergence class the guard exists for
    val bad = Seq((7L, mk("aa", 38), "web")).toDF("doc_id", "text", "source")
    val e = intercept[IllegalArgumentException] {
      CorpusPrep.pretrainPipelineIncrement(CorpusPrep.pretrainArtifacts(old), bad)
    }
    assert(e.getMessage.contains("monotonic"))
    // a genuinely monotonic batch still passes the guard
    val good = Seq((9L, mk("fa", 38), "web")).toDF("doc_id", "text", "source")
    assert(CorpusPrep.pretrainPipelineIncrement(
      CorpusPrep.pretrainArtifacts(old), good).count() > 0)
  }

  test("mixture stage cannot silently drop data: NULL source samples under its own rate row") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.analysis.CorpusPrep
    // a singleton source's rate caps at 10000 bp under α=0.5 (share·N/n =
    // N/Σ√nᵢ ≥ 1), so the NULL-source doc MUST be kept — an equi-join
    // mixture would silently delete it
    val docs = (
      (1 to 6).map(i => (i.toLong, s"doc $i", "web")) :+
        ((7L, "null source doc", null: String))
      ).toDF("doc_id", "text", "source")
    val kept = CorpusPrep.temperatureKeep(docs)
    assert(kept.filter(col("source").isNull).count() === 1L)
    val report = CorpusPrep.temperatureResample(docs)
      .collect().map(r => Option(r.getString(0)) ->
        (r.getInt(3), r.getLong(4))).toMap
    assert(report(None) === ((10000, 1L)))
  }
}
