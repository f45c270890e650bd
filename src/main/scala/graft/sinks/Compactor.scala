package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{SaveMode, SparkSession}

/** Small-file compaction for a parquet layer
  * (reference: streaming_to_curated_stream.py:186-216 — read layer,
  * coalesce, rewrite to `_compacted`, then a delete+rename swap via py4j
  * Hadoop FS).
  *
  * The reference's swap deletes the live layer BEFORE renaming the new one
  * into place — a crash between those two steps loses the layer outright
  * (SURVEY.md §7.4). This implementation keeps the reference's semantics
  * (same input, same compacted output) but closes that window with a
  * rename-chain in which every destructive step is a single atomic FS
  * rename and BOTH copies of the data exist at every intermediate point:
  *
  *   1. write `<layer>_compacted` (new data; `_SUCCESS` marks completion)
  *   2. rename `<layer>` → `<layer>_old`        (atomic archive-aside)
  *   3. rename `<layer>_compacted` → `<layer>`  (atomic promote)
  *   4. delete `<layer>_old`                    (cleanup, data now dual)
  *
  * A crash at any point is repaired by [[recover]], which [[compact]] also
  * runs on entry: if the layer exists, stray `_compacted`/`_old` dirs are
  * leftovers to delete; if it is missing, a COMPLETE `_compacted` rolls
  * forward, otherwise `_old` rolls back. Rename atomicity holds on HDFS and
  * local file systems; on S3-like stores, front this with a rename-capable
  * layer or a table format — the interface isolates callers from that
  * choice. `targetFiles` replaces the reference's hardcoded coalesce(1) —
  * size it to layer-bytes / 128 MB on a real cluster.
  *
  * A layer written by a streaming file sink
  * ([[graft.streaming.CuratedStreamJob.start]]) is refused: its readers list
  * the files of the sink log `_spark_metadata`, not the directory, so files
  * rewritten outside the log would hide every row from them.
  */
object Compactor {

  /** The log directory of Spark's streaming file sink. */
  private val SinkLog = "_spark_metadata"

  /** Thrown by the test-only failpoints in [[compactImpl]]. */
  private[graft] final class SimulatedCrash(at: Int)
    extends RuntimeException(s"simulated crash at step $at")

  /** `partitionCols` MUST name the layer's partition columns (e.g.
    * `Seq("event_date")` for the curated layer) — a flat rewrite of a
    * partitioned layer would mix flat files into a partitioned directory
    * tree, breaking every subsequent read and silently dropping partition
    * pruning. */
  def compact(
      spark: SparkSession,
      layerPath: String,
      targetFiles: Int = 1,
      partitionCols: Seq[String] = Nil): Unit =
    compactImpl(spark, layerPath, targetFiles, partitionCols, failAt = 0)

  /** [[compact]] with a crash-injection hook for CompactorSpec: `failAt` 1
    * crashes between the two renames (layer momentarily absent, both copies
    * on disk), 2 crashes after the promote but before cleanup. Production
    * callers go through [[compact]], which never fails these points. */
  private[graft] def compactImpl(
      spark: SparkSession,
      layerPath: String,
      targetFiles: Int,
      partitionCols: Seq[String],
      failAt: Int): Unit = {
    val fs = fileSystem(spark, layerPath)
    recover(spark, layerPath) // restore invariants after any earlier crash
    val tmp = new Path(layerPath.stripSuffix("/") + "_compacted")
    val old = new Path(layerPath.stripSuffix("/") + "_old")
    val dst = new Path(layerPath)

    val df = spark.read.parquet(layerPath)
    val writer = df.coalesce(targetFiles)
      .write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .parquet(tmp.toString)

    if (!fs.rename(dst, old))
      throw new java.io.IOException(s"compaction: failed to archive $dst -> $old")
    if (failAt == 1) throw new SimulatedCrash(1)
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(s"compaction: failed to promote $tmp -> $dst")
    if (failAt == 2) throw new SimulatedCrash(2)
    fs.delete(old, true)
    ()
  }

  /** Repair a layer after a crash mid-[[compact]]. Idempotent; safe to run
    * unconditionally at job start (and [[compact]] does). Returns what it
    * did: "clean" (layer present, stray work dirs removed), "rolled-forward"
    * (promoted a complete `_compacted`), or "rolled-back" (restored `_old`).
    * Throws if the layer is missing and nothing recoverable exists, and
    * refuses (before touching anything) a layer holding a sink log. */
  def recover(spark: SparkSession, layerPath: String): String = {
    val fs = fileSystem(spark, layerPath)
    val dst = new Path(layerPath)
    if (fs.exists(new Path(dst, SinkLog)))
      throw new IllegalArgumentException(
        s"compaction: $dst is a streaming sink layer ($SinkLog); rewriting it outside the log hides its rows")
    val tmp = new Path(layerPath.stripSuffix("/") + "_compacted")
    val old = new Path(layerPath.stripSuffix("/") + "_old")
    if (fs.exists(dst)) {
      fs.delete(tmp, true); fs.delete(old, true); "clean"
    } else if (fs.exists(new Path(tmp, "_SUCCESS"))) {
      // crash between archive and promote, new data fully written
      if (!fs.rename(tmp, dst))
        throw new java.io.IOException(s"recover: failed to promote $tmp -> $dst")
      fs.delete(old, true); "rolled-forward"
    } else if (fs.exists(old)) {
      // crash with an incomplete rewrite: the archived layer is the truth
      fs.delete(tmp, true)
      if (!fs.rename(old, dst))
        throw new java.io.IOException(s"recover: failed to restore $old -> $dst")
      "rolled-back"
    } else
      throw new java.io.IOException(
        s"recover: $dst missing and neither a complete $tmp nor $old exists")
  }

  private def fileSystem(spark: SparkSession, path: String): FileSystem =
    FileSystem.get(new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
}
