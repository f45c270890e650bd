package graft.analysis

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-min sketch: fixed-size frequency summary of an unbounded key
  * domain. `depth` independent hash rows × `width` counters; an item's
  * estimated count is the MIN over its `depth` counters — an upper bound on
  * the true count (collisions only inflate), with error ≤ εN for
  * width = ⌈e/ε⌉ at probability 1−(1/2)^depth (Cormode & Muthukrishnan,
  * J. Algorithms 2005).
  *
  * Why this beats exact `groupBy(key).count()` at 100 TB: the sketch is a
  * depth×width grid of longs REGARDLESS of key cardinality — a billion-key
  * frequency table summarized in depth·width·8 bytes, mergeable across
  * partitions/days by cell-wise addition (the build below is literally a
  * grouped sum, so Spark's partial aggregation IS the merge).
  *
  * Hashing is the engine's portable md5 scheme ([[Sketches.hash60]] with a
  * per-row salt), so an external SQL engine rebuilds the identical grid and
  * the same estimates — the sketch is oracle-checkable, not just plausible.
  */
object CountMin {

  /** Cell coordinates of a value in row `row`: md5-hash the salted value
    * into [0, width). */
  def bucketOf(value: Column, row: Int, width: Int): Column =
    pmod(Sketches.hash60(concat(lit(s"$row|"), value.cast("string"))), lit(width))

  /** All `depth` cells of a value as one generator — the single-pass form
    * (a union of depth projections would scan the source depth times). */
  def cellsOf(value: Column, depth: Int, width: Int): Column =
    explode(array((0 until depth).map(r =>
      struct(lit(r).as("row"), bucketOf(value, r, width).as("bucket"))): _*))

  /** Build the sketch grid: one row per (row, bucket) with its summed
    * count — at most depth×width rows, via one grouped aggregate whose
    * map-side partials are the per-partition sketch merge. */
  def build(df: DataFrame, keyCol: String, depth: Int = 4, width: Int = 256): DataFrame =
    df.select(cellsOf(col(keyCol), depth, width).as("cell"))
      .select(col("cell.row").as("row"), col("cell.bucket").as("bucket"))
      .groupBy("row", "bucket").agg(count(lit(1)).as("c"))

  /** Point-estimate the frequency of each distinct probe key against the
    * sketch: join each probe's depth cells, take the min counter. Missing
    * cells count 0 (possible when the probe never hashed there AND nothing
    * collided — the estimate is then exactly 0).
    * Output: key, est_count (≥ true count), plus true_count when
    * `withTruth` for calibration runs. */
  def estimate(
      sketch: DataFrame, probes: DataFrame, keyCol: String,
      depth: Int = 4, width: Int = 256): DataFrame = {
    val cells = (0 until depth).map { r =>
      probes.select(col(keyCol).as("key"), lit(r).as("row"),
        bucketOf(col(keyCol), r, width).as("bucket"))
    }.reduce(_ union _)
    cells
      .join(sketch, Seq("row", "bucket"), "left")
      .groupBy("key")
      .agg(min(coalesce(col("c"), lit(0L))).as("est_count"))
  }
}
