package graft

import org.apache.hadoop.fs.Path

import graft.analysis.CorpusPrep
import graft.sinks.DeltaLayerCompactor

/** Laws for the versioned-delta-layer compactor: in-retention reads are
  * unchanged by a fold, newer versions are untouched, and every injected
  * crash point recovers to a state where the reads are STILL unchanged
  * (rolled forward when the folded write had committed, rolled back
  * otherwise), on the layer shape CorpusPrep.writeArtifacts produces. */
class DeltaCompactorSpec extends SparkSpec {

  import spark.implicits._

  private def fs = org.apache.hadoop.fs.FileSystem.get(
    new java.net.URI("/tmp"), spark.sparkContext.hadoopConfiguration)

  /** A three-version single-kind layer: v=0 {1,2}, v=3 {3}, v=7 {4,5}. */
  private def mkLayer(): String = {
    val root = tmpDir("delta_layer")
    def write(rows: Seq[(Long, String)], v: Long): Unit =
      rows.toDF("id", "payload").write.mode("overwrite").parquet(s"$root/kind/v=$v")
    write(Seq(1L -> "a", 2L -> "b"), 0L)
    write(Seq(3L -> "c"), 3L)
    write(Seq(4L -> "d", 5L -> "e"), 7L)
    root
  }

  private def readBelow(root: String, bound: Long): Seq[(Long, String)] =
    spark.read.parquet(s"$root/kind")
      .filter(org.apache.spark.sql.functions.col("v") < bound).drop("v")
      .as[(Long, String)].collect().toSeq.sorted

  private def versions(root: String): Seq[Long] =
    DeltaLayerCompactor.versionsOf(fs, new Path(s"$root/kind")).sorted

  /** Three pretraining batches whose later docs reach back into earlier
    * ones: an exact dup, a keeper flip and a contamination phrase. */
  private lazy val (docs, batches) = {
    def mk(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ") + " the of"
    val contamPhrase = (1 to 10).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (1L, mk("aa", 38), "web"),
      (4L, mk("na", 38), "web"),
      (6L, mk("ca", 28) + " " + contamPhrase, "web"),
      (10L, mk("ha", 38), "books"),
      (13L, mk("aa", 38), "web"),             // exact dup of batch-0 doc 1
      (14L, mk("na", 38) + " zz1", "web"),    // flips batch-0 doc 4's keeper
      (17L, contamPhrase + " " + mk("ea", 20), "web"), // contaminates doc 6
      (21L, mk("qa", 38), "web"),
      (24L, mk("ra", 30), "web")
    ).toDF("doc_id", "text", "source")
    (docs, Seq(
      docs.filter($"doc_id" <= 12),
      docs.filter($"doc_id" > 12 && $"doc_id" <= 18),
      docs.filter($"doc_id" > 18)))
  }

  /** Batch `b` through the stream job's per-batch body: its readout. */
  private def streamBatch(root: String, b: Int, compactEvery: Int = 0): Seq[Seq[Any]] = {
    var out = Seq.empty[Seq[Any]]
    graft.streaming.PretrainStreamJob.processBatch(spark, batches(b), b.toLong, root,
      (_, df) => { out = df.collect().map(_.toSeq).toSeq; () },
      ctxTokens = 8, compactEvery = compactEvery)
    out
  }

  test("fold preserves every in-retention read and leaves newer versions untouched") {
    val root = mkLayer()
    val before8 = readBelow(root, 8L)
    val before4 = readBelow(root, 4L)
    // fold versions <= 5: {0, 3} collapse into a base at v=3; v=7 untouched
    assert(DeltaLayerCompactor.compactKind(spark, s"$root/kind", 5L) === "compacted")
    assert(versions(root) === Seq(3L, 7L))
    assert(readBelow(root, 8L) === before8)
    assert(readBelow(root, 4L) === before4) // bound 4 > maxFolded 3: in retention
    // idempotent re-fold of the same range: single version <= 5 rewrites in place
    assert(DeltaLayerCompactor.compactKind(spark, s"$root/kind", 5L) === "compacted")
    assert(versions(root) === Seq(3L, 7L))
    assert(readBelow(root, 8L) === before8)
    // nothing in range / absent layer: noop
    assert(DeltaLayerCompactor.compactKind(spark, s"$root/kind", -1L) === "noop")
    assert(DeltaLayerCompactor.compactKind(spark, s"$root/nope", 5L) === "noop")
  }

  test("every injected crash point recovers with reads unchanged") {
    for (failAt <- 1 to 4) {
      val root = mkLayer()
      val before = readBelow(root, 8L)
      intercept[DeltaLayerCompactor.SimulatedCrash] {
        DeltaLayerCompactor.compactKindImpl(spark, s"$root/kind", 5L,
          targetFiles = 1, failAt = failAt)
      }
      val did = DeltaLayerCompactor.recoverKind(spark, s"$root/kind")
      // the folded write committed before every failpoint, so recovery
      // always completes the fold rather than discarding it
      assert(did === (if (failAt == 4) "cleaned" else "rolled-forward"),
        s"failAt=$failAt")
      assert(readBelow(root, 8L) === before, s"failAt=$failAt")
      assert(versions(root) === Seq(3L, 7L), s"failAt=$failAt")
      // no stray work dirs survive recovery
      assert(!fs.exists(new Path(s"$root/kind_compacted_u3")))
      assert(!fs.exists(new Path(s"$root/kind_old_u3")))
      // and a second compaction over the recovered layer still works
      assert(DeltaLayerCompactor.compactKind(spark, s"$root/kind", 7L) === "compacted")
      assert(versions(root) === Seq(7L))
      assert(readBelow(root, 8L) === before)
    }
  }

  test("an uncommitted fold (no _SUCCESS) rolls back, restoring any archived versions") {
    val root = mkLayer()
    val before = readBelow(root, 8L)
    // simulate a crash mid-write: fold dir exists without _SUCCESS, and
    // (impossible-but-safe) one version already archived
    fs.mkdirs(new Path(s"$root/kind_compacted_u3"))
    fs.mkdirs(new Path(s"$root/kind_old_u3"))
    assert(fs.rename(new Path(s"$root/kind/v=0"), new Path(s"$root/kind_old_u3/v=0")))
    assert(DeltaLayerCompactor.recoverKind(spark, s"$root/kind") === "rolled-back")
    assert(versions(root) === Seq(0L, 3L, 7L))
    assert(readBelow(root, 8L) === before)
    assert(!fs.exists(new Path(s"$root/kind_compacted_u3")))
    assert(!fs.exists(new Path(s"$root/kind_old_u3")))
  }

  test("artifact-layer compaction: the increment from the folded layer ≡ the increment from the delta layer") {
    val Seq(b0, b1, b2) = batches
    val root = tmpDir("artifact_compact")
    CorpusPrep.writeArtifacts(CorpusPrep.pretrainArtifacts(b0), root, version = 0L)
    val (_, deltas) = CorpusPrep.pretrainIncrementWithArtifacts(
      CorpusPrep.readArtifacts(spark, root, maxVersionExclusive = 1L), b1,
      ctxTokens = 8)
    CorpusPrep.writeArtifacts(deltas, root, version = 1L)
    def increment(): Seq[Seq[Any]] =
      CorpusPrep.pretrainPipelineIncrement(
        CorpusPrep.readArtifacts(spark, root, maxVersionExclusive = 2L), b2,
        ctxTokens = 8).collect().map(_.toSeq).toSeq
    val fromDeltas = increment()
    CorpusPrep.compactArtifacts(spark, root, upToInclusive = 1L)
    // every kind folded to exactly one base version
    for (kind <- Seq("exact", "fingerprints", "sketch", "pairs", "scored",
        "winnow_fps", "eval_fps"))
      assert(DeltaLayerCompactor.versionsOf(fs, new Path(s"$root/$kind")) === Seq(1L),
        kind)
    assert(increment() === fromDeltas)
    assert(increment() === CorpusPrep.pretrainPipeline(docs, ctxTokens = 8)
      .collect().map(_.toSeq).toSeq)
    // job-start repair over a clean layer is a no-op
    CorpusPrep.recoverArtifactLayer(spark, root)
    assert(increment() === fromDeltas)
  }

  test("stream job with compaction on: folds stay behind the replay bound and a replay after a fold is idempotent") {
    val plainRoot = tmpDir("stream_plain")
    val plain = batches.indices.map(streamBatch(plainRoot, _))
    val compactRoot = tmpDir("stream_compact")
    val compacted = batches.indices.map(streamBatch(compactRoot, _, compactEvery = 1))
    // identical emissions batch-for-batch: compaction is invisible in-stream
    assert(compacted === plain)
    // batch 2's fold collapsed versions {0, 1} into one base at v=1; the
    // batch's own delta (v=2) stays outside the fold (the replay bound)
    for (kind <- Seq("exact", "scored", "winnow_fps"))
      assert(DeltaLayerCompactor.versionsOf(
        fs, new Path(s"$compactRoot/$kind")).sorted === Seq(1L, 2L), kind)
    // crash-replay of batch 2 AFTER its fold: reads only the folded base
    // (v < 2), overwrites its own v=2, emits the identical readout
    val replayed = streamBatch(compactRoot, 2, compactEvery = 1)
    assert(replayed === plain.last)
    assert(replayed === CorpusPrep.pretrainPipeline(docs, ctxTokens = 8)
      .collect().map(_.toSeq).toSeq)
  }

  test("stream job: a batch replayed after a fold crashed before its promote reads the repaired layer") {
    val root = tmpDir("stream_fold_crash")
    val plain = batches.indices.map(streamBatch(root, _))
    // batch 2's fold of versions {0, 1} crashes after archiving both and
    // before promoting the folded base: the exact kind holds only v=2
    intercept[DeltaLayerCompactor.SimulatedCrash] {
      DeltaLayerCompactor.compactKindImpl(spark, s"$root/exact", 1L, 1, failAt = 3)
    }
    def exact = DeltaLayerCompactor.versionsOf(fs, new Path(s"$root/exact")).sorted
    assert(exact === Seq(2L))
    // the replay repairs the layer before it reads it
    assert(streamBatch(root, 2) === plain.last)
    assert(exact === Seq(1L, 2L))
  }
}
