package graft.core

import java.util.UUID
import java.util.concurrent.{Callable, ExecutionException, ExecutorCompletionService, Executors, TimeUnit}

import org.apache.spark.sql.SparkSession

/** Run independent Spark bodies concurrently, and cancel them together.
  *
  * Each body runs on its own thread. The threads are created by the calling
  * thread, so they inherit its Spark local properties: the caller's job
  * group stays on every job a body submits, and an enclosing supervisor
  * ([[graft.pipeline.Orchestrator]]'s SLA cancel and its
  * `getJobIdsForGroup` drain check) sees and cancels fanned-out jobs as its
  * own. The bodies' jobs also carry one fresh job tag (`addJobTag`, which
  * leaves the group alone). When a body fails, or the caller is
  * interrupted, every job with the tag is cancelled, the other bodies are
  * interrupted, and the call returns only after all of them have stopped,
  * so no orphan body keeps submitting jobs or writing paths after the
  * caller unwound. The first failure is rethrown.
  */
object Fanout {

  /** Run `bodies` concurrently; their results in order. A single body
    * runs on the calling thread. */
  def all[A](spark: SparkSession, bodies: Seq[() => A]): Seq[A] =
    if (bodies.size <= 1) bodies.map(_())
    else {
      val sc = spark.sparkContext
      val tag = "graft-fanout-" + UUID.randomUUID()
      val pool = Executors.newFixedThreadPool(bodies.size)
      val done = new ExecutorCompletionService[Unit](pool)
      val results = new Array[Any](bodies.size)
      try {
        bodies.zipWithIndex.foreach { case (body, i) =>
          done.submit(new Callable[Unit] {
            def call(): Unit = {
              sc.addJobTag(tag)
              sc.setInterruptOnCancel(true)
              results(i) = body()
            }
          })
        }
        bodies.foreach(_ => done.take().get())
        results.toSeq.asInstanceOf[Seq[A]]
      } catch {
        case e: Throwable =>
          stop(sc, tag, pool)
          throw (e match {
            case x: ExecutionException if x.getCause != null => x.getCause
            case x => x
          })
      } finally pool.shutdown()
    }

  /** Cancel the tag's jobs and interrupt the bodies until all have ended;
    * the tag is cancelled again on every wait, so a job a body submits
    * after the first cancel dies too. */
  private def stop(sc: org.apache.spark.SparkContext, tag: String,
      pool: java.util.concurrent.ExecutorService): Unit = {
    var interrupted = false
    pool.shutdownNow()
    var ended = false
    while (!ended) {
      sc.cancelJobsWithTag(tag)
      try ended = pool.awaitTermination(100, TimeUnit.MILLISECONDS)
      catch { case _: InterruptedException => interrupted = true }
    }
    if (interrupted) Thread.currentThread().interrupt()
  }
}
