package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** Runs one workload and writes its report as JSON.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --root <run dir> --out <report.json> [--sidecar <trace.jsonl>]
  * Main --selftest --root <run dir>
  * }}}
  *
  * Untraced (`--trace 0`): `setup_s` (the median of five set-up rounds
  * doing the same work, each starting a fresh session), the workload's
  * timed loop, and `peak_heap_mb`.
  * Traced (`--trace 1`): the tracer's listeners are registered and one
  * traced pass yields the per-layer metrics and the span sidecar; its wall
  * time (`trace.pass_s`) against the untraced runs' step time is the
  * tracing overhead. */
object Main {
  val setupRounds = 5

  def main(args: Array[String]): Unit = {
    val opts = args.filterNot(_ == "--selftest").grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val root = Paths.get(opts("root"))
    if (args.contains("--selftest")) { sys.exit(if (SelfTest.run(root)) 0 else 1) }
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val report = new Report
    val ctx = new Ctx(opts("seed").toLong, root, report)
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val name = opts("workload")
    val wl = Workload(name, ctx, seconds)

    // each set-up round starts a fresh session (the previous one stopped)
    // and sets the workload up on it; the last round's session runs it.
    // Every round starts on a collected heap, so a round does not pay for
    // the garbage of the one before.
    var spark: SparkSession = null
    val rounds = (0 until setupRounds).map { k =>
      if (spark != null) restart(spark)
      System.gc()
      Stats.time {
        spark = GraftSession.local(cores)
        wl.setup(spark, k)
      }._2
    }
    report.notes += f"setup rounds ${rounds.map(r => f"$r%.3f").mkString(" ")} s"

    if (!traced) {
      report.metric("setup_s", Stats.median(rounds), "s")
      HeapAfterGc.reset()
      wl.measure(spark, seconds)
      report.metric("peak_heap_mb", HeapAfterGc.peakMb, "MB")
    } else {
      val tracer = new Tracer(spark, enabled = true)
      val tracedS = wl.tracePass(spark, tracer)
      tracer.stop()
      val layers = wl.layerMetrics(tracer)
      var extra = Map("trace.pass_s" -> tracedS)
      var sidecar = tracer.json
      wl match {
        case d: DailyReplay =>
          // the T+1 analytics: one traced pass of the query list over its
          // seeded tables, oracle-checked after the run
          val q = new QueryList(ctx)
          q.setup(spark)
          val qt = new Tracer(spark, enabled = true)
          q.pass(spark, qt)
          qt.stop()
          extra ++= q.layerMetrics(qt)
          sidecar ++= qt.json
          q.dumpForOracle(spark, Files.createDirectories(root.resolve("oracle")))
          // single-thread baseline: the young days on a local[1] session
          restart(spark)
          spark = GraftSession.local(1)
          val one = new Tracer(spark, enabled = true)
          extra += "pipeline.parallel_speedup" -> d.speedupOver(spark, one)
          one.stop()
          sidecar ++= one.json.map(_.replaceFirst("\\{", "{\"session\":\"local[1]\","))
        case _ => ()
      }
      val all = layers ++ extra
      PerLayer.names.foreach { case (m, unit) => report.metric(m, all.getOrElse(m, 0.0), unit) }
      opts.get("sidecar").foreach { p =>
        val progress = tracer.progress.asScala.toSeq.flatMap { case (q, ps) =>
          ps.asScala.map(m => (Seq(s""""stream":${Json.str(q)}""") ++
            m.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }).mkString("{", ",", "}"))
        }
        Files.createDirectories(Paths.get(p).toAbsolutePath.getParent)
        Files.write(Paths.get(p), (sidecar ++ progress).asJava)
      }
    }
    spark.stop()
    writeReport(report, Paths.get(opts("out")))
  }

  private def restart(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def writeReport(r: Report, out: Path): Unit = {
    val metrics = r.metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}" }
    val json = s"""{"correct": ${r.failed == 0}, "attempted": ${r.attempted}, "failed": ${r.failed}, """ +
      s""""metrics": ${metrics.mkString("{", ", ", "}")}, "notes": ${r.notes.map(Json.str).mkString("[", ", ", "]")}}"""
    Files.writeString(out, json)
  }
}

/** Every per-layer metric, in report order, with its unit. A traced run
  * reports all of them; a layer the workload does not touch reads 0. */
object PerLayer {
  def unit(metric: String): String = metric.split('.').last match {
    case m if m.endsWith("_per_s") => "1/s"
    case m if m == "s" || m.endsWith("_s") => "s"
    case m if m.endsWith("_ms") || m.startsWith("ms_") => "ms"
    case m if m.endsWith("bytes") || m == "bytes_written" => "bytes"
    case m if m.contains("_per_") || m.endsWith("speedup") => "ratio"
    case _ => "count"
  }

  private def span(name: String, stats: String*): Seq[String] = stats.map(st => s"$name.$st")

  /** The query list: a reference mart, the relational joins, the
    * graph family, CC dedup clusters, the packing order and a quantile. */
  val queryNames: Seq[String] = Seq("q02_daily_traffic", "q11_revenue_by_nation",
    "q90_bloom_semijoin", "q73_triangle_count", "q113_harmonic_centrality", "q233_hits",
    "q49_dedup_clusters", "q182_training_order", "q109_exact_quantile")

  /** The per-layer metrics of the workloads in BENCHMARK.json, in report order. */
  val names: Seq[(String, String)] = (
    span("pipeline.archive_raw", "s", "jobs", "tasks", "gc_ms", "bytes_written", "files_written") ++
    span("pipeline.curate", "s", "jobs", "tasks", "shuffle_bytes", "spill_bytes", "bytes_written",
      "files_written", "rows_read_per_new_row") ++
    span("marts.cold", "s", "jobs", "stages", "tasks", "shuffle_bytes", "bytes_written", "files_written",
      "partitions_rewritten_per_touched") ++
    span("sinks.serving_load", "s", "jobs", "tasks", "rows_per_changed_row") ++
    Seq("ingest.rejects", "ingest.dups_dropped", "pipeline.lake_bytes_per_raw_byte",
      "pipeline.parallel_speedup") ++
    span("streaming.curated", "batch_ms", "state_rows", "batches") ++
    span("streaming.hot", "batch_ms", "batches", "split_minutes") ++
    span("sinks.jdbc_upsert", "ms_p50", "ms_max", "rows") ++
    Seq("streaming.fresh_p90_s", "streaming.gen_late_ms", "streaming.backlog_files_end") ++
    queryNames.flatMap(q => span(s"query.$q", "s", "jobs")) ++
    Seq("trace.pass_s")).map(m => m -> unit(m))
}

/** Generator determinism: the same seed gives byte-identical inputs, and
  * another seed gives different ones. */
object SelfTest {
  private def digest(dir: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    Files2.dataFiles(dir).sortBy(p => dir.relativize(p).toString).foreach { p =>
      md.update(dir.relativize(p).toString.getBytes("UTF-8")); md.update(Files.readAllBytes(p))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  def run(root: Path): Boolean = {
    def drops(seed: Long, tag: String) = {
      val d = root.resolve(tag)
      Gen.dailyDrops(seed, d, 3, 500)
      digest(d)
    }
    def stream(seed: Long) = Gen.streamFiles(seed, 20, 30).files.flatMap(_.lines).mkString("\n").hashCode
    val checks = Seq(
      "daily drops: same seed, same bytes" -> (drops(7, "a") == drops(7, "b")),
      "daily drops: other seed, other bytes" -> (drops(7, "a") != drops(8, "c")),
      "stream files: same seed, same lines" -> (stream(7) == stream(7)),
      "stream files: other seed, other lines" -> (stream(7) != stream(8)),
      "documents: same seed, same rows" -> (Gen.documents(7, 300) == Gen.documents(7, 300)),
      "documents: other seed, other rows" -> (Gen.documents(7, 300) != Gen.documents(8, 300)))
    checks.foreach { case (n, ok) => println(s"${if (ok) "PASS" else "FAIL"} $n") }
    checks.forall(_._2)
  }
}
