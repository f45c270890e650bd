package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Compaction for a VERSIONED DELTA layer — `<layer>/v=<version>/` parquet
  * directories, one per ingest (the artifact-layer contract of
  * [[graft.analysis.CorpusPrep.writeArtifacts]]): fold every version
  * `<= upToInclusive` into ONE base directory at the highest folded
  * version.
  *
  * Why: a year of daily ingests leaves ~365 delta directories per kind,
  * and every read unions all of them — the small-file spiral the
  * reference hits on its curated layer (and solves with a whole-layer
  * rewrite, streaming_to_curated_stream.py:186-216). Folding keeps reads
  * O(one base + recent deltas) without changing ANY in-retention read:
  * for every bound B > maxFolded, `union(v < B)` is row-identical before
  * and after, because the folded base carries version maxFolded and
  * contains exactly the rows of the versions it replaced. Bounds
  * `<= maxFolded` are out of retention after compaction BY DESIGN —
  * callers pick `upToInclusive` below the oldest replay bound they still
  * serve (for [[graft.streaming.PretrainStreamJob]]: only versions the
  * stream's checkpoint has committed past).
  *
  * Crash safety is a rename chain, where the reference deletes the live
  * layer before renaming the new one into place (a crash between the two
  * loses it): every destructive step is one atomic FS rename, and both
  * copies of the data exist at every intermediate point:
  *
  *   1. write `<layer>_compacted_u<target>` (the folded rows; `_SUCCESS`
  *      marks completion; `target` = max folded version, recorded in the
  *      DIRECTORY NAME so recovery needs no side state)
  *   2. rename each `<layer>/v=<x>` (x <= target) into
  *      `<layer>_old_u<target>/v=<x>`            (atomic archive-aside)
  *   3. rename the folded dir to `<layer>/v=<target>` (atomic promote)
  *   4. delete `<layer>_old_u<target>`              (cleanup, data dual)
  *
  * [[recoverKind]] (run on entry) repairs any crash point: a fold dir
  * WITH `_SUCCESS` rolls forward (finish archiving, promote, clean); one
  * without `_SUCCESS` never archived anything — step 2 starts only after
  * the write commits — and is deleted; an archive dir with no fold dir
  * means the promote already happened, so it is deleted (with an
  * impossible-but-safe restore path if the promoted base is missing too).
  *
  * Compaction of a MULTI-KIND layer (one call per kind, as
  * [[graft.analysis.CorpusPrep.compactArtifacts]] does) is not atomic
  * across kinds — a crash can leave some kinds folded and others not —
  * but that is harmless by the invariant above: each kind's in-retention
  * reads are unchanged whether or not its fold completed.
  */
object DeltaLayerCompactor {

  /** Thrown by the test-only failpoints in [[compactKindImpl]]. */
  private[graft] final class SimulatedCrash(at: Int)
    extends RuntimeException(s"simulated crash at step $at")

  /** Fold every version `<= upToInclusive` of one kind's delta layer into
    * a single base directory at the highest folded version. Returns
    * "compacted", or "noop" when the layer is absent or holds no version
    * in range. `targetFiles` sizes the folded base (layer-bytes / 128 MB
    * on a real cluster; artifact deltas are batch-sized, so 1 here). */
  def compactKind(
      spark: SparkSession,
      kindPath: String,
      upToInclusive: Long,
      targetFiles: Int = 1): String =
    compactKindImpl(spark, kindPath, upToInclusive, targetFiles, failAt = 0)

  /** [[compactKind]] with crash-injection hooks for DeltaCompactorSpec:
    * `failAt` 1 crashes after the folded write commits (nothing archived),
    * 2 after archiving exactly one version (archive half-done), 3 after
    * all archives but before the promote (layer momentarily missing the
    * folded range, both copies on disk), 4 after the promote but before
    * cleanup. Production callers go through [[compactKind]]. */
  private[graft] def compactKindImpl(
      spark: SparkSession,
      kindPath: String,
      upToInclusive: Long,
      targetFiles: Int,
      failAt: Int): String = {
    val fs = fileSystem(spark, kindPath)
    recoverKind(spark, kindPath) // restore invariants after any earlier crash
    val layer = new Path(kindPath.stripSuffix("/"))
    if (!fs.exists(layer)) return "noop"
    val folded = versionsOf(fs, layer).filter(_ <= upToInclusive)
    if (folded.isEmpty) return "noop"
    val target = folded.max
    val tmp = new Path(s"${kindPath.stripSuffix("/")}_compacted_u$target")
    val old = new Path(s"${kindPath.stripSuffix("/")}_old_u$target")

    spark.read.parquet(layer.toString)
      .filter(col("v") <= target).drop("v")
      .coalesce(targetFiles)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    if (failAt == 1) throw new SimulatedCrash(1)

    fs.mkdirs(old)
    folded.sorted.zipWithIndex.foreach { case (x, i) =>
      if (!fs.rename(new Path(layer, s"v=$x"), new Path(old, s"v=$x")))
        throw new java.io.IOException(
          s"compaction: failed to archive $layer/v=$x -> $old/v=$x")
      if (failAt == 2 && i == 0) throw new SimulatedCrash(2)
    }
    if (failAt == 3) throw new SimulatedCrash(3)

    if (!fs.rename(tmp, new Path(layer, s"v=$target")))
      throw new java.io.IOException(
        s"compaction: failed to promote $tmp -> $layer/v=$target")
    if (failAt == 4) throw new SimulatedCrash(4)

    fs.delete(old, true)
    "compacted"
  }

  /** Repair one kind's layer after a crash mid-[[compactKind]]. Idempotent;
    * safe to run unconditionally at job start (and [[compactKind]] does).
    * Returns "clean" (nothing to do), "rolled-forward" (completed a fold
    * whose write had committed), "rolled-back" (dropped an uncommitted
    * fold, restoring any archived versions), or "cleaned" (deleted the
    * archive of an already-promoted fold). */
  def recoverKind(spark: SparkSession, kindPath: String): String = {
    val fs = fileSystem(spark, kindPath)
    val base = kindPath.stripSuffix("/")
    val layer = new Path(base)
    val name = layer.getName
    val parent = layer.getParent
    if (parent == null || !fs.exists(parent)) return "clean"
    def targetsOf(suffix: String): Seq[Long] =
      fs.listStatus(parent).toSeq.map(_.getPath.getName).flatMap { n =>
        val prefix = s"${name}_${suffix}_u"
        if (n.startsWith(prefix)) n.stripPrefix(prefix).toLongOption else None
      }
    var did = "clean"
    targetsOf("compacted").foreach { t =>
      val tmp = new Path(s"${base}_compacted_u$t")
      val old = new Path(s"${base}_old_u$t")
      if (fs.exists(new Path(tmp, "_SUCCESS"))) {
        // the folded write committed: finish the archive, promote, clean
        val remaining = if (fs.exists(layer)) versionsOf(fs, layer).filter(_ <= t) else Nil
        if (remaining.nonEmpty) fs.mkdirs(old)
        remaining.sorted.foreach { x =>
          if (!fs.rename(new Path(layer, s"v=$x"), new Path(old, s"v=$x")))
            throw new java.io.IOException(
              s"recover: failed to archive $layer/v=$x -> $old/v=$x")
        }
        fs.mkdirs(layer)
        if (!fs.rename(tmp, new Path(layer, s"v=$t")))
          throw new java.io.IOException(
            s"recover: failed to promote $tmp -> $layer/v=$t")
        fs.delete(old, true)
        did = "rolled-forward"
      } else {
        // write never committed, so nothing was archived; restore
        // defensively anyway (restore BEFORE deleting the fold dir, so a
        // crash mid-recovery re-enters this branch, never the one below)
        if (fs.exists(old)) {
          fs.mkdirs(layer)
          versionsOf(fs, old).foreach { x =>
            fs.rename(new Path(old, s"v=$x"), new Path(layer, s"v=$x"))
          }
          fs.delete(old, true)
        }
        fs.delete(tmp, true)
        did = "rolled-back"
      }
    }
    targetsOf("old").foreach { t =>
      val tmp = new Path(s"${base}_compacted_u$t")
      val old = new Path(s"${base}_old_u$t")
      if (!fs.exists(tmp) && fs.exists(old)) {
        if (fs.exists(new Path(layer, s"v=$t"))) {
          // fold dir gone + promoted base present: only the cleanup was lost
          fs.delete(old, true)
          if (did == "clean") did = "cleaned"
        } else {
          // impossible by the rename chain, but restoring is always safe
          fs.mkdirs(layer)
          versionsOf(fs, old).foreach { x =>
            fs.rename(new Path(old, s"v=$x"), new Path(layer, s"v=$x"))
          }
          fs.delete(old, true)
          did = "rolled-back"
        }
      }
    }
    did
  }

  /** The version ids present under a layer dir (its `v=<id>` children). */
  private[graft] def versionsOf(fs: FileSystem, layer: Path): Seq[Long] =
    if (!fs.exists(layer)) Nil
    else fs.listStatus(layer).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .flatMap(n => if (n.startsWith("v=")) n.stripPrefix("v=").toLongOption else None)

  private def fileSystem(spark: SparkSession, path: String): FileSystem =
    FileSystem.get(new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
}
