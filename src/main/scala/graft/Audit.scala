package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Ad-hoc per-query probe: `runMain graft.Audit <mode> <name>...` runs every
  * registry query whose name contains one of the given substrings at
  * SPARK_GRAFT_SF_DIR — the local feedback loop for plan work without a full
  * Bench pass. Session sizing reads the SAME env vars, with the same
  * defaults, as [[Bench]] (SPARK_GRAFT_CPUS, default 4) so Audit numbers
  * diagnose Bench numbers. Modes:
  *  - `time`: build, then `count()`; min of 3 runs.
  *  - `forced`: build, then `queryExecution.toRdd.count()`; min of 3 runs. A
  *    plain count lets the optimizer rewrite the plan under a count
  *    aggregate (distinct-key propagation can eliminate a left-joined
  *    aggregate entirely), so "score joined back to the full table" shapes
  *    need every output column materialized to time the operator itself.
  *  - `explain`: the formatted physical plan (the PLANS.md audits).
  * Build is timed apart from the action: iterative queries (CC, pagerank,
  * sketch pipelines) run embedded actions while building the frame. Each
  * timed rep also prints `compiles=`, the whole-stage and expression classes
  * Janino compiled during it (Spark's JVM-wide `CodegenMetrics`): rep 1 pays
  * the query's compiles, and reps 2–3 print 0 when its classes stay in the
  * generated-code cache, so a rep-1-only excess is compile time. It also
  * prints `peak_exec_mb=`, the largest `peakExecutionMemory` of any task in
  * the rep (build and action), from a task listener installed once: what
  * one task of the query holds in Tungsten pages, sort buffers and hash
  * maps. */
object Audit {
  def main(args: Array[String]): Unit = {
    val modes = Set("time", "forced", "explain")
    require(args.length > 1 && modes(args(0)),
      s"usage: graft.Audit ${modes.mkString("|")} <name-substring>...")
    val (mode, names) = (args(0), args.drop(1))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.core.GraftSession.tune(
        SparkSession.builder().master(s"local[$cpus]"), cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()
    def secs(t0: Long) = (System.nanoTime() - t0) / 1e9
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val peakExec = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => peakExec.accumulateAndGet(m.peakExecutionMemory, math.max))
    })
    // task ends reach the listener on Spark's listener thread: wait for it
    def drained(): Unit = {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => names.exists(n.contains) }
      .foreach { case (name, fn) =>
        if (mode == "explain") {
          println(s"===== $name =====")
          fn(spark, sfDir).explain("formatted")
        } else {
          val best = (0 until 3).map { _ =>
            drained()
            peakExec.set(0)
            val c0 = compiles
            val tB = System.nanoTime()
            val df = fn(spark, sfDir)
            val build = secs(tB)
            val t0 = System.nanoTime()
            val n = if (mode == "forced") df.queryExecution.toRdd.count() else df.count()
            val run = secs(t0)
            drained()
            val peakMb = peakExec.get / 1048576.0
            println(f"[audit] $name rows=$n build=$build%.3f $mode=$run%.3f compiles=${compiles - c0} peak_exec_mb=$peakMb%.1f")
            spark.catalog.clearCache() // same per-query hygiene as Bench/Verify
            build + run
          }.min
          println(f"[audit] $name MIN=$best%.3f")
        }
      }
    spark.stop()
  }
}
