package graft

import org.apache.spark.sql.functions._

import graft.functions.ZOrder

class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  /** The layout the key is for: range-partitioned and sorted on it. */
  private def zLayout(df: org.apache.spark.sql.DataFrame) =
    df.withColumn("zkey", ZOrder.zValue(col("x"), col("y"), bits = 6))
      .repartitionByRange(16, col("zkey")).sortWithinPartitions("zkey")

  test("zValue interleaves bits: x even positions, y odd") {
    val out = spark.range(1).select(
      ZOrder.zValue(lit(1), lit(0), 4).as("a"), // x bit0 -> pos0
      ZOrder.zValue(lit(0), lit(1), 4).as("b"), // y bit0 -> pos1
      ZOrder.zValue(lit(3), lit(3), 4).as("c"), // 0101 | 1010
      ZOrder.zValue(lit(2), lit(1), 4).as("d"), // pos2 | pos1
      ZOrder.zValue(lit(15), lit(15), 4).as("e")).collect().head
    assert(out.getLong(0) === 1L)
    assert(out.getLong(1) === 2L)
    assert(out.getLong(2) === 15L)
    assert(out.getLong(3) === 6L)
    assert(out.getLong(4) === 255L)
  }

  test("zValue masks inputs beyond the bit budget") {
    val out = spark.range(1).select(
      ZOrder.zValue(lit(16 + 3), lit(0), 4).as("a")) // 16 overflows 4 bits
      .collect().head
    assert(out.getLong(0) === 5L) // masked to 3 -> bits 0,1 -> positions 0,2
  }

  test("written z-ordered parquet files prune a 2-D box query by zone map") {
    val dir = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    val grid = (0 until 64).flatMap(x => (0 until 64).map(y => (x, y))).toDF("x", "y")
    zLayout(grid)
      .write.mode("overwrite").parquet(dir)
    // file-level zone maps: min/max of each column per physical file — what
    // a reader's row-group/file pruning consults
    val zones = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min("x").as("xlo"), max("x").as("xhi"), min("y").as("ylo"), max("y").as("yhi"))
      .collect()
    assert(zones.length >= 8, s"expected many files, got ${zones.length}")
    // box query touching 1/16 of each axis; a file can serve it only if its
    // zone overlaps BOTH ranges
    val hit = zones.count(r =>
      r.getAs[Int]("xlo") <= 15 && r.getAs[Int]("xhi") >= 12 &&
        r.getAs[Int]("ylo") <= 47 && r.getAs[Int]("yhi") >= 44)
    assert(hit * 2 <= zones.length,
      s"z-layout should prune at least half the files for a small box; hit $hit/${zones.length}")
  }

  test("z-layout keeps BOTH dimensions narrow per partition; x-sort does not") {
    // 64x64 grid; compare per-partition y-extent under z-layout vs x-sort
    val grid = (0 until 64).flatMap(x => (0 until 64).map(y => (x, y))).toDF("x", "y")
    def yExtent(df: org.apache.spark.sql.DataFrame): Double = {
      val parts = df.withColumn("p", spark_partition_id())
        .groupBy("p").agg((max("y") - min("y")).as("ext"))
        .agg(avg("ext")).collect().head.getDouble(0)
      parts
    }
    val zed = yExtent(zLayout(grid))
    val xSorted = yExtent(grid.repartitionByRange(16, col("x")).sortWithinPartitions("x"))
    // x-sorted partitions span the full y range (~63); z-layout partitions
    // cover aligned rectangles (y-extent ~15 for 16 partitions of a 64x64 grid)
    assert(xSorted > 60.0, s"x-sort baseline unexpectedly narrow: $xSorted")
    assert(zed < 32.0, s"z-layout y-extent $zed not materially narrower than $xSorted")
  }
}
