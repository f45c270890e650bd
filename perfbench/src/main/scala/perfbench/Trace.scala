package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Work counters of one span: Spark jobs/stages/tasks attributed to it plus
  * the task metrics those tasks report. */
final class Counters {
  val jobs, stages, tasks, shuffleBytes, spillBytes, gcMs, bytesWritten,
    rowsRead = new AtomicLong
  def get: Map[String, Long] = Map("jobs" -> jobs.get, "stages" -> stages.get,
    "tasks" -> tasks.get, "shuffle_bytes" -> shuffleBytes.get,
    "spill_bytes" -> spillBytes.get, "gc_ms" -> gcMs.get,
    "bytes_written" -> bytesWritten.get, "rows_read" -> rowsRead.get)
}

/** One traced interval: a call into a layer (or a grouping of such calls). */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    start: Long, startMs: Long, var end: Long = 0L, counters: Counters = new Counters,
    attrs: mutable.Map[String, Double] = mutable.LinkedHashMap.empty) {
  def seconds: Double = (end - start) / 1e9
}

/** The benchmark's external tracer. Spans are opened around calls into the
  * engine's public functions; each span runs under its own Spark job group,
  * and a `SparkListener` attributes every job, stage and task to a span.
  * Jobs the engine submits from its own side threads under its own job
  * groups go to the innermost span open on the driver thread, and
  * micro-batch jobs go to the streaming query that ran them. Nothing is
  * registered unless tracing is on; with tracing off `span` only runs the
  * body. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val t0 = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byGroup = new ConcurrentHashMap[String, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  @volatile private var stack: List[Span] = Nil
  private val streamSpan = new ConcurrentHashMap[String, Span]()
  /** Per streaming query name: progress of each non-empty micro-batch. */
  val progress = new ConcurrentHashMap[String, java.util.List[Map[String, Double]]]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val span = group.flatMap(g => Option(byGroup.get(g)))
        .orElse(group.flatMap(g => Option(streamSpan.get(g))))
        .orElse(stack.headOption)
      span.foreach { s =>
        s.counters.jobs.incrementAndGet()
        e.stageIds.foreach(id => stageSpan.put(id, s))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(_.counters.stages.incrementAndGet())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val c = s.counters
        c.tasks.incrementAndGet()
        Option(e.taskMetrics).foreach { m =>
          c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          c.gcMs.addAndGet(m.jvmGCTime)
          c.bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
          c.rowsRead.addAndGet(m.inputMetrics.recordsRead)
        }
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val d = p.durationMs.asScala.map { case (k, v) => s"ms.$k" -> v.doubleValue }
        val state = p.stateOperators.map(_.numRowsTotal).sum.toDouble
        progress.computeIfAbsent(Option(p.name).getOrElse(p.id.toString),
          _ => java.util.Collections.synchronizedList(new java.util.ArrayList()))
          .add(d.toMap ++ Map("batch_id" -> p.batchId.toDouble,
            "input_rows" -> p.numInputRows.toDouble, "state_rows" -> state,
            "end_ms" -> (System.currentTimeMillis().toDouble)))
      }
    }
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
  }

  private var nextId = 0
  private val mainThread = Thread.currentThread().getName

  /** Run `body` as a span named `name` under `parent`, by default the
    * innermost span open on the driver thread. */
  def span[A](name: String, runId: String = "", parent: Option[Span] = None)(body: => A): A =
    if (!enabled) body else {
      val s = open(name, runId, parent)
      val sc = spark.sparkContext
      val prevGroup = Option(sc.getLocalProperty("spark.jobGroup.id"))
      val group = s"perfbench-${s.id}"
      byGroup.put(group, s)
      sc.setJobGroup(group, name)
      try body
      finally {
        prevGroup.fold(sc.clearJobGroup())(g => sc.setJobGroup(g, g))
        close(s)
      }
    }

  /** Open a span with no job group of its own; its jobs are attributed
    * by the innermost-span rule, or to a streaming query via [[stream]]. */
  def open(name: String, runId: String = "", parent: Option[Span] = None): Span = synchronized {
    val p = parent.orElse(stack.headOption).map(_.id).getOrElse(-1)
    val s = Span(nextId, name, p, runId, System.nanoTime(), System.currentTimeMillis())
    nextId += 1
    spans += s
    if (Thread.currentThread().getName == mainThread) stack = s :: stack
    s
  }

  def close(s: Span): Unit = synchronized {
    s.end = System.nanoTime()
    stack = stack.filterNot(_ eq s)
  }

  /** Attribute a streaming query's micro-batch jobs (the query's run id is
    * its job group) to a span. */
  def stream(runId: String, s: Span): Unit = streamSpan.put(runId, s)

  def all: Seq[Span] = synchronized(spans.toSeq)

  /** Spans named `name`, all occurrences. */
  def named(name: String): Seq[Span] = all.filter(s => s.name == name && s.end > 0)

  /** Wait until the listener bus has delivered every posted event. */
  def drain(): Unit = if (enabled) org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)

  def stop(): Unit = if (enabled) {
    drain()
    spark.sparkContext.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
  }

  /** The span tree as JSON lines (one span per line), for the sidecar. */
  def json: Seq[String] = all.map { s =>
    val c = s.counters.get.map { case (k, v) => s""""$k":$v""" }
    val a = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }
    (Seq(s""""id":${s.id}""", s""""name":"${s.name}"""", s""""parent":${s.parent}""",
      s""""run":"${s.runId}"""", f""""start_s":${(s.start - t0) / 1e9}%.6f""",
      f""""end_s":${(s.end - t0) / 1e9}%.6f""") ++ c ++ a).mkString("{", ",", "}")
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
