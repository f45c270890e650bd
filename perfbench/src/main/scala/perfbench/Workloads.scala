package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.pipeline.DailyPipeline
import graft.schema.TripClick
import graft.sinks.JdbcUpsertSink
import graft.streaming.{CuratedStreamJob, HotMartStreamJob}

/** Run-wide context: the seed, the run's private temp root, the report. */
final class Ctx(val seed: Long, val root: Path, val report: Report) {
  private var n = 0
  /** A fresh directory under the run root. */
  def dir(name: String): Path = {
    n += 1
    Files.createDirectories(root.resolve(f"$n%03d-$name"))
  }
}

/** A benchmark workload. `setup` is one set-up round (inputs, serving DDL,
  * warm-up); `measure` is the timed loop that fills the end-to-end metrics;
  * `tracePass` is one pass of the workload's operation, under `tracer`,
  * returning its wall seconds. Output checks run inside both. */
trait Workload {
  def setup(spark: SparkSession, round: Int): Unit
  def measure(spark: SparkSession, seconds: Double): Unit
  def tracePass(spark: SparkSession, tracer: Tracer): Double
  /** Per-layer metrics from the spans of the traced pass. */
  def layerMetrics(tracer: Tracer): Map[String, Double]
}

object Workload {
  def apply(name: String, ctx: Ctx, seconds: Double): Workload = name match {
    case "daily_replay" => new DailyReplay(ctx)
    case "stream_hot" => new StreamHot(ctx, seconds)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The standard counters of every occurrence of span `name`, summed. */
  def spanTotals(tracer: Tracer, name: String): Map[String, Double] = {
    val ss = tracer.named(name)
    val c = ss.map(_.counters.get).foldLeft(Map.empty[String, Long]) { (a, m) =>
      m.foldLeft(a) { case (acc, (k, v)) => acc.updated(k, acc.getOrElse(k, 0L) + v) }
    }
    val attrs = ss.flatMap(_.attrs.toSeq).groupMapReduce(_._1)(_._2)(_ + _)
    (c.map { case (k, v) => s"$name.$k" -> v.toDouble } ++
      attrs.map { case (k, v) => s"$name.$k" -> v } ++
      Map(s"$name.s" -> ss.map(_.seconds).sum))
  }

  /** Record files/bytes written under `dirs` since the span started. */
  def written(s: Option[Span], dirs: Path*): Unit = s.foreach { sp =>
    val (files, bytes) = Files2.writtenSince(sp.startMs, dirs: _*)
    sp.attrs("files_written") = files.toDouble
    sp.attrs("bytes_written") = bytes.toDouble
  }
}

/** `daily_replay`: the T+1 batch chain on a young and an old lake. Both
  * take the same seeded daily drops through archive-raw → curated → four
  * cold marts → Derby serving. The old lake first takes `backfill` drops at
  * once in one catch-up cycle (a backfill after an outage); then the young
  * lake runs its first days and the old lake its next days one day at a
  * time, alternating, so a drift in machine speed reaches both alike. The
  * day cycles are timed; their ratio, old over young, is the growth of day
  * cost with history. Replays repeat on fresh lakes until the time is up. */
final class DailyReplay(ctx: Ctx) extends Workload {
  private val timedDays = 2
  private val backfill = 14
  private val eventsPerDay = 1000
  private var drops: Path = _
  private var truths: IndexedSeq[Gen.DailyTruth] = _
  private var serving: Map[String, Derby] = _
  private var replays = 0
  private val youngCycles, oldCycles = mutable.ArrayBuffer.empty[Double]
  private var lines, lakeBytes = 0L
  private var replaySeconds = 0.0
  // trace bookkeeping
  private var newRows, rewritten, touched, served, changed = 0L

  def setup(spark: SparkSession, round: Int): Unit = {
    drops = ctx.dir("drops")
    truths = Gen.dailyDrops(ctx.seed, drops, backfill + timedDays, eventsPerDay)
    // the serving databases of the first replay; the loads create their tables
    serving = Seq("young", "old").map(n => n -> Derby(s"daily_setup_${round}_$n")).toMap
    serving.values.foreach(_.exec())
    // warm-up: a small day archived and curated on a scratch lake; the
    // untimed catch-up cycle warms the marts and the serving load
    val warm = ctx.dir("warm")
    Gen.dailyDrops(ctx.seed + 1, warm.resolve("raw"), 1, 100)
    val layout = DailyPipeline.Layout(warm.resolve("lake").toString)
    DailyPipeline.archiveRaw(spark, warm.resolve("raw/day-00").toString, layout)
    DailyPipeline.curate(spark, layout)
  }

  /** One lake and its serving database; `cycle` takes drops through the
    * chain, `check` compares the lake and its served marts with the truth
    * of the drops it took. */
  private final class Lake(name: String, spark: SparkSession, tracer: Tracer) {
    private val lake = ctx.dir(s"lake-$name")
    private val layout = DailyPipeline.Layout(lake.toString)
    private val db = if (replays == 0) serving(name) else Derby(s"daily_${replays}_$name")
    private val marts = DailyPipeline.coldMartNames.map(m => lake.resolve(s"analytics_mart/$m"))
    private var archived, curated = 0L
    private var taken = 0

    /** Take the drops `ds` through the chain in one cycle; a single drop is
      * a day with a span per stage, several are the catch-up. */
    def cycle(ds: Seq[Int]): Double = {
      val day = ds.size == 1
      val label = if (day) f"$name/day-${ds.head}%02d" else f"$name/days-${ds.head}%02d-${ds.last}%02d"
      val input = drops.resolve(if (day) f"day-${ds.head}%02d" else ds.map(d => f"$d%02d").mkString("day-{", ",", "}"))
      def sp[A](stage: String)(body: => A): A = if (day) tracer.span(stage, label)(body) else body
      val prevCurated = curated
      // days are a day apart in production: no cycle pays for the garbage
      // of the one before
      System.gc()
      val (loaded, t) = Stats.time {
        tracer.span(if (day) "day" else "catch_up", label) {
          archived = sp("pipeline.archive_raw")(DailyPipeline.archiveRaw(spark, input.toString, layout))
          curated = sp("pipeline.curate")(DailyPipeline.curate(spark, layout))
          sp("marts.cold")(DailyPipeline.coldMarts(spark, layout))
          sp("sinks.serving_load")(DailyPipeline.loadToServing(spark, layout, db.url))
        }
      }
      taken = ds.last + 1
      if (tracer.enabled && day) {
        def last(stage: String) = tracer.named(stage).lastOption
        Workload.written(last("pipeline.archive_raw"), lake.resolve("archive_raw"), lake.resolve("quarantine"))
        Workload.written(last("pipeline.curate"), lake.resolve("curated"))
        Workload.written(last("marts.cold"), marts: _*)
        val since = last("marts.cold").get.startMs
        rewritten += marts.map { m =>
          Files2.dataFiles(m).filter(p => Files.getLastModifiedTime(p).toMillis >= since)
            .map(_.getParent).distinct.size.toLong
        }.sum
        val dates = truths.last.touchedDates(ds.head)
        touched += dates.size.toLong * marts.size
        newRows += curated - prevCurated
        served += loaded.values.sum
        changed += marts.map { m =>
          spark.read.parquet(m.toString)
            .filter(col("event_date").cast("string").isin(dates.toSeq: _*)).count()
        }.sum
      }
      t
    }

    def bytes: Long = Files2.bytes(lake)

    def check(): Unit = {
      val truth = truths(taken - 1)
      val r = ctx.report
      val got = db.query("SELECT \"event_date\", \"total_events\", \"unique_sessions\" FROM mart_daily_traffic")
        .map(row => row.head.take(10) -> ((row(1).toLong, row(2).toLong))).toMap
      val want = truth.perDate.map { case (k, (e, s, _)) => k -> ((e, s)) }
      val first = want.keys.min
      r.check(s"daily_replay.$name.served_daily_traffic", want,
        want.updated(first, (want(first)._1 + 1, want(first)._2))) { w =>
        if (got == w) None else Some(s"served ${got.toSeq.sorted.take(3)} want ${w.toSeq.sorted.take(3)}")
      }
      r.check(s"daily_replay.$name.curated_rows", truth.distinct, truth.distinct + 1) { w =>
        if (curated == w) None else Some(s"curated $curated want $w")
      }
      val quarantined = spark.read.parquet(lake.resolve("quarantine").toString).count()
      r.check(s"daily_replay.$name.quarantine_rows", truth.corrupt, truth.corrupt - 1) { w =>
        if (quarantined == w) None else Some(s"quarantine $quarantined want $w")
      }
      r.check(s"daily_replay.$name.dups_dropped", truth.dupsDropped, truth.dupsDropped + 1) { w =>
        if (archived - curated == w) None else Some(s"dropped ${archived - curated} want $w")
      }
    }
  }

  /** Young day cycles of the last replay. */
  private var lastYoung: Seq[Double] = Nil

  /** One replay on fresh lakes; returns the young and old day cycle times
    * and the replay's wall time. With `youngOnly` only the young lake runs
    * (the single-thread baseline), unchecked. */
  private def replay(spark: SparkSession, tracer: Tracer,
      youngOnly: Boolean = false): (Seq[Double], Seq[Double], Double) = {
    val t0 = System.nanoTime()
    val youngLake = new Lake("young", spark, tracer)
    val (youngT, oldT) = if (youngOnly) ((0 until timedDays).map(d => youngLake.cycle(Seq(d))), Nil) else {
      val oldLake = new Lake("old", spark, tracer)
      oldLake.cycle(0 until backfill)
      val ts = (0 until timedDays).map(d => (youngLake.cycle(Seq(d)), oldLake.cycle(Seq(backfill + d)))).unzip
      lakeBytes = oldLake.bytes
      ctx.report.attempted += 2 * timedDays + 1
      youngLake.check()
      oldLake.check()
      ts
    }
    replays += 1
    lastYoung = youngT
    (youngT, oldT, (System.nanoTime() - t0) / 1e9)
  }

  def measure(spark: SparkSession, seconds: Double): Unit = {
    val t0 = System.nanoTime()
    val off = new Tracer(spark, enabled = false)
    do {
      val (y, o, wall) = replay(spark, off)
      youngCycles ++= y
      oldCycles ++= o
      replaySeconds += wall
      lines += truths(timedDays - 1).lines + truths.last.lines
    } while ((System.nanoTime() - t0) / 1e9 < seconds)
    val r = ctx.report
    r.metric("step_p50_s", Stats.median((youngCycles ++ oldCycles).toSeq), "s")
    r.metric("throughput_per_s", lines / replaySeconds, "1/s")
    r.metric("growth", Stats.median(oldCycles.toSeq) / Stats.median(youngCycles.toSeq), "ratio")
    def fmt(xs: Iterable[Double]) = xs.map(c => f"$c%.2f").mkString(" ")
    r.notes += f"daily_replay: $replays replays, $eventsPerDay events per drop; young lake days 1-$timedDays " +
      f"${fmt(youngCycles)} s, old lake (catch-up of $backfill days) days ${backfill + 1}-${backfill + timedDays} " +
      f"${fmt(oldCycles)} s"
  }

  def tracePass(spark: SparkSession, tracer: Tracer): Double = {
    newRows = 0; rewritten = 0; touched = 0; served = 0; changed = 0
    replay(spark, tracer)._3
  }

  /** The young days of the last replay against the same days replayed on
    * `spark` (the single-thread baseline): their time ratio. */
  def speedupOver(spark: SparkSession, tracer: Tracer): Double = {
    val base = lastYoung.sum
    replay(spark, tracer, youngOnly = true)._1.sum / base
  }

  def layerMetrics(tracer: Tracer): Map[String, Double] = {
    val t = Seq("pipeline.archive_raw", "pipeline.curate", "marts.cold", "sinks.serving_load")
      .flatMap(Workload.spanTotals(tracer, _)).toMap
    t ++ Map(
      "pipeline.curate.rows_read_per_new_row" -> t("pipeline.curate.rows_read") / newRows,
      "marts.cold.partitions_rewritten_per_touched" -> rewritten.toDouble / touched,
      "sinks.serving_load.rows_per_changed_row" -> served.toDouble / changed,
      "ingest.rejects" -> truths.last.corrupt.toDouble,
      "ingest.dups_dropped" -> truths.last.dupsDropped.toDouble,
      "pipeline.lake_bytes_per_raw_byte" -> lakeBytes.toDouble / truths.last.rawBytes)
  }
}

/** `stream_hot`: the speed layer. Files land at a fixed rate (write, then
  * rename into the watched directory), `CuratedStreamJob` dedups them into
  * the curated layer and `HotMartStreamJob` upserts per-minute traffic into
  * Derby; then a fixed backlog lands at once and is drained. */
final class StreamHot(ctx: Ctx, seconds: Double) extends Workload {
  private val ratePerS = 5.0
  private val trigger = "2 seconds"
  private val eventsPerMinute = 20
  private val backlog = 120
  private val maxFilesPerTrigger = 30
  private val priming = 3
  private var truth: Gen.StreamTruth = _
  /** The open phase lasts the seconds budget, and at least 100 files land,
    * so ten freshness samples lie beyond the p90. */
  private val nOpen = math.max(100, (ratePerS * seconds).round.toInt)
  private var db: Derby = _
  private var runs = 0
  // results of the last run
  private var fresh: Seq[Double] = Nil
  private var drainEventsPerS = 0.0
  private var genLateMs = 0.0
  private var backlogAtEnd = 0L
  private var splitMinutes = 0L
  private val upsertMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
  private var upsertRows = 0L
  private var queryIds = Map.empty[String, String]

  private val ddl = "CREATE TABLE rt_traffic (\"event_minute\" TIMESTAMP NOT NULL PRIMARY KEY, " +
    "\"total_clicks\" BIGINT, \"unique_sessions\" BIGINT, \"unique_docs\" BIGINT, \"updated_at\" TIMESTAMP)"
  private val stagingTypes = "event_minute TIMESTAMP, total_clicks BIGINT, " +
    "unique_sessions BIGINT, unique_docs BIGINT, updated_at TIMESTAMP"

  def setup(spark: SparkSession, round: Int): Unit = {
    truth = Gen.streamFiles(ctx.seed, priming + nOpen + backlog, eventsPerMinute)
    db = Derby(s"hot_setup_$round")
    db.exec(ddl)
    // warm-up: the hot marts of one small file, upserted into a scratch table
    val warm = spark.read.text(Gen.write(ctx.dir("warm").resolve("w.jsonl"), truth.files(0).lines))
    val wdb = Derby(s"hot_warm_$round"); wdb.exec(ddl)
    upsert(HotMartStreamJob.computeBatch(graft.ingest.Normalizer.fromJsonLines(
      warm.withColumnRenamed("value", "json")), 0L), wdb)
  }

  private def upsert(b: HotMartStreamJob.HotMartBatch, to: Derby): Unit =
    JdbcUpsertSink.upsert(b.trafficMinute, to.url, "rt_traffic", Seq("event_minute"),
      JdbcUpsertSink.AnsiMergeDialect, batchId = b.batchId, stagingColumnTypes = Some(stagingTypes))

  private val minuteFmt = "yyyy-MM-dd HH:mm:ss"

  private def run(spark: SparkSession, tracer: Tracer): Double = {
    val d = ctx.dir("stream")
    val (watched, staging, curated) = (d.resolve("in"), d.resolve("staging"), d.resolve("curated"))
    Seq(watched, staging, curated).foreach(Files.createDirectories(_))
    if (runs > 0) { db = Derby(s"hot_$runs"); db.exec(ddl) }
    runs += 1
    val servedAt = new ConcurrentHashMap[String, java.lang.Long]()
    var splits = 0L
    upsertMs.clear(); upsertRows = 0
    val sink: HotMartStreamJob.HotMartBatch => Unit = { b =>
      val batchSpan = if (tracer.enabled) Some(tracer.open("streaming.hot.batch", s"batch-${b.batchId}")) else None
      val (_, t) = Stats.time(tracer.span("sinks.jdbc_upsert", s"batch-${b.batchId}", batchSpan)(upsert(b, db)))
      val now = System.currentTimeMillis()
      // which minutes this batch served: read after the commit is timed
      val minutes = b.trafficMinute.select(date_format(col("event_minute"), minuteFmt)).collect().map(_.getString(0))
      upsertMs.add(t * 1000); upsertRows += minutes.length
      minutes.foreach(m => if (servedAt.put(m, now) != null) splits += 1)
      batchSpan.foreach(tracer.close)
    }
    val wall0 = System.nanoTime()
    val qc = CuratedStreamJob.start(CuratedStreamJob.curate(
      CuratedStreamJob.jsonlSource(spark, watched.toString, maxFilesPerTrigger), rawIsKafka = false),
      curated.toString, d.resolve("ck-c").toString, Trigger.ProcessingTime(trigger))
    val qh = HotMartStreamJob.start(
      HotMartStreamJob.parquetSource(spark, curated.toString, TripClick.curatedSchema, 1000),
      sink, d.resolve("ck-h").toString, Trigger.ProcessingTime(trigger))
    queryIds = Map(qc.id.toString -> "curated", qh.id.toString -> "hot")
    if (tracer.enabled) {
      tracer.stream(qc.runId.toString, tracer.open("streaming.curated", "stream"))
      tracer.stream(qh.runId.toString, tracer.open("streaming.hot", "stream"))
    }
    def minuteOf(i: Int) = truth.files(i).minute.format(java.time.format.DateTimeFormatter.ofPattern(minuteFmt))
    def waitServed(range: Range, limitS: Double): Unit = {
      val end = System.nanoTime() + (limitS * 1e9).toLong
      while (range.exists(i => !servedAt.containsKey(minuteOf(i))) && System.nanoTime() < end) {
        if (qc.exception.isDefined || qh.exception.isDefined) return
        Thread.sleep(20)
      }
    }
    try {
      // priming: a few files through both queries before the clock starts,
      // so their first (cold) micro-batches are not timed
      for (i <- 0 until priming) Gen.land(truth.files(i), i, staging, watched)
      waitServed(0 until priming, 60)
      // open phase: land nOpen files at the fixed rate
      val opened = priming until priming + nOpen
      val start = System.currentTimeMillis() + 100
      val sched = opened.map(i => i -> (start + ((i - priming) * 1000 / ratePerS).toLong)).toMap
      var late = 0L
      val open = if (tracer.enabled) Some(tracer.open("stream.open", "open")) else None
      for (i <- opened) {
        val wait = sched(i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        Gen.land(truth.files(i), i, staging, watched)
        late = math.max(late, System.currentTimeMillis() - sched(i))
      }
      backlogAtEnd = opened.count(i => !servedAt.containsKey(minuteOf(i))).toLong
      waitServed(opened, 60)
      open.foreach(tracer.close)
      genLateMs = late.toDouble
      fresh = opened.flatMap(i => Option(servedAt.get(minuteOf(i))).map(c => (c - sched(i)) / 1000.0))
      // drain phase: the whole backlog lands at once
      val drain = if (tracer.enabled) Some(tracer.open("stream.drain", "drain")) else None
      val backlogged = priming + nOpen until truth.files.size
      val tD = System.currentTimeMillis()
      for (i <- backlogged) Gen.land(truth.files(i), i, staging, watched)
      waitServed(backlogged, 60)
      drain.foreach(tracer.close)
      val last = backlogged.flatMap(i => Option(servedAt.get(minuteOf(i))))
      val lines = backlogged.map(truth.files(_).lines.size).sum
      drainEventsPerS = if (last.size == backlog) lines / ((last.max - tD) / 1000.0) else 0.0
    } finally {
      qc.stop(); qh.stop()
      tracer.all.filter(s => s.end == 0 && s.name.startsWith("streaming.")).foreach(tracer.close)
    }
    splitMinutes = splits
    val wall = (System.nanoTime() - wall0) / 1e9
    check(qc.exception.orElse(qh.exception).map(_.toString))
    wall
  }

  private def check(streamError: Option[String]): Unit = {
    val r = ctx.report
    r.attempted += truth.files.size
    val got = db.query("SELECT \"event_minute\", \"total_clicks\", \"unique_sessions\", \"unique_docs\" FROM rt_traffic")
      .map(row => row.head.take(19) -> ((row(1).toLong, row(2).toLong, row(3).toLong))).toMap
    val want = truth.perMinute
    val first = want.keys.min
    r.check("stream_hot.served_rt_traffic", want,
      want.updated(first, want(first).copy(_1 = want(first)._1 + 1))) { w =>
      streamError.orElse {
        if (got == w) None
        else {
          val bad = (w.keySet ++ got.keySet).toSeq.sorted.filter(k => got.get(k) != w.get(k))
          Some(s"${bad.size} minutes differ (${splitMinutes} split across hot batches), e.g. " +
            bad.take(3).map(k => s"$k served ${got.get(k)} want ${w.get(k)}").mkString("; "))
        }
      }
    }
  }

  def measure(spark: SparkSession, seconds: Double): Unit = {
    run(spark, new Tracer(spark, enabled = false))
    val r = ctx.report
    if (fresh.size < nOpen || drainEventsPerS == 0.0) r.notes += "stream_hot: not every minute was served"
    else {
      r.metric("step_p50_s", Stats.median(fresh), "s")
      r.metric("throughput_per_s", drainEventsPerS, "1/s")
      r.metric("growth", Stats.growth(fresh), "ratio")
    }
    r.notes += f"stream_hot: $nOpen files at $ratePerS%.0f/s (trigger $trigger) + $backlog backlog files, " +
      f"generator late max ${genLateMs}%.0f ms, freshness p90 ${Stats.quantile(fresh, 0.9)}%.3f s"
  }

  def tracePass(spark: SparkSession, tracer: Tracer): Double = run(spark, tracer)

  def layerMetrics(tracer: Tracer): Map[String, Double] = {
    def prog(q: String) = queryIds.collect { case (id, `q`) => id }.headOption
      .flatMap(id => Option(tracer.progress.get(id))).map(_.asScala.toSeq).getOrElse(Nil)
    val (c, h) = (prog("curated"), prog("hot"))
    def p50(xs: Seq[Map[String, Double]]) =
      if (xs.isEmpty) 0.0 else Stats.median(xs.map(_.getOrElse("ms.triggerExecution", 0.0)))
    val ups = upsertMs.asScala.toSeq
    Map(
      "streaming.curated.batch_ms" -> p50(c),
      "streaming.curated.state_rows" -> (0.0 +: c.map(_("state_rows"))).max,
      "streaming.curated.batches" -> c.size.toDouble,
      "streaming.hot.batch_ms" -> p50(h),
      "streaming.hot.batches" -> h.size.toDouble,
      "streaming.hot.split_minutes" -> splitMinutes.toDouble,
      "sinks.jdbc_upsert.ms_p50" -> (if (ups.isEmpty) 0.0 else Stats.median(ups)),
      "sinks.jdbc_upsert.ms_max" -> (0.0 +: ups).max,
      "sinks.jdbc_upsert.rows" -> upsertRows.toDouble,
      "streaming.gen_late_ms" -> genLateMs,
      "streaming.fresh_p90_s" -> (if (fresh.isEmpty) 0.0 else Stats.quantile(fresh, 0.9)),
      "streaming.backlog_files_end" -> backlogAtEnd.toDouble)
  }
}

/** The query list: one client running `PerLayer.queryNames` from
  * `SparkEntry.queries` over seeded tables in the shape of the engine's
  * test data, collecting every result. Its results are dumped for the
  * DuckDB oracle check, which runs after the timed window. */
final class QueryList(ctx: Ctx) {
  private val queries: Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = graft.SparkEntry.queries
    PerLayer.queryNames.map(n => n -> all(n))
  }
  private var sfDir: Path = _
  private var results: Map[String, (StructType, Seq[org.apache.spark.sql.Row])] = Map.empty

  def setup(spark: SparkSession): Unit = {
    sfDir = ctx.dir("tables")
    QueryTables.write(spark, ctx.seed, sfDir)
    queries.head._2(spark, sfDir.toString).collect()
  }

  /** One pass over the list, each query under its own span. */
  def pass(spark: SparkSession, tracer: Tracer): Unit =
    queries.foreach { case (name, fn) =>
      val (schema, rows) = tracer.span(s"query.$name") {
        val df = fn(spark, sfDir.toString)
        (df.schema, df.collect().toSeq)
      }
      ctx.report.attempted += 1
      results += name -> ((schema, rows))
      spark.catalog.clearCache()
    }

  def layerMetrics(tracer: Tracer): Map[String, Double] =
    queries.flatMap { case (name, _) =>
      val t = Workload.spanTotals(tracer, s"query.$name")
      Seq(s"query.$name.s" -> t(s"query.$name.s"), s"query.$name.jobs" -> t(s"query.$name.jobs"))
    }.toMap

  /** Dump the results and their oracle SQL for the DuckDB check. */
  def dumpForOracle(spark: SparkSession, out: Path): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    results.foreach { case (name, (schema, rows)) =>
      spark.createDataFrame(rows.asJava, schema).coalesce(1).write.parquet(out.resolve(name).toString)
    }
    val json = queries.map { case (name, _) => s"${Json.str(name)}: ${Json.str(oracle(name))}" }
      .mkString("{", ",\n", "}")
    Files.writeString(out.resolve("oracle_sql.json"), json)
    Files.writeString(out.resolve("tables_dir.txt"), sfDir.toString)
  }
}
