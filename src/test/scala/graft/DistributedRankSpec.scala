package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.relational.Relational

/** Gate for the q95-recipe factoring (round-8 verdict item 4): the four
  * stat operators that used to run a bare `Window.orderBy` over a
  * potentially data-sized frame (mannWhitneyU, ksDrift, giniConcentration,
  * conformalReport) now go through [[Relational.distributedCumSum]] /
  * [[Relational.exactRankProbe]]. This spec pins (a) exact equivalence to
  * the single-window ground truth and (b) the execution shape: no
  * single-partition Exchange anywhere in the helper's plan.
  */
class DistributedRankSpec extends SparkSpec {
  import spark.implicits._

  // injective map i -> (i*48271) mod 100003 keeps the order key unique
  // (a total order is the helper's documented contract)
  private def frame(n: Int) =
    (1 to n).map(i => ((i.toLong * 48271L) % 100003L, 1L + i % 7))
      .toDF("v", "t")

  test("distributedCumSum: equals the single-window ground truth on sums and ranks") {
    val df = frame(5000)
    val got = Relational.distributedCumSum(df, Seq("v"), Seq("t"), rankCol = Some("i"))
      .select("v", "cum_t", "i").orderBy("v").collect()
    val w = Window.orderBy("v")
    val want = df
      .withColumn("cum_t", sum("t").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("i", row_number().over(w).cast("long"))
      .select("v", "cum_t", "i").orderBy("v").collect()
    assert(got.map(_.toSeq).toSeq === want.map(_.toSeq).toSeq)
  }

  test("distributedCumSum: no single-partition exchange in the plan") {
    val out = Relational.distributedCumSum(frame(2000), Seq("v"), Seq("t"),
      rankCol = Some("i"))
    out.count() // materialize so the executed plan is final
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("Window"), plan.take(500))
    assert(!plan.contains("Exchange SinglePartition"),
      "the distributed-rank helper must never funnel rows through one task:\n" +
        plan.take(2000))
  }

  test("distributedCumSum: a materialized input under the SizeGate budget is one window, the same values") {
    val df = frame(3000)
    def run() = Relational.distributedCumSum(df, Seq("v"), Seq("t"),
      rankCol = Some("i"), materializeInput = true)
    // the fast path returns its one-partition checkpoint; the scale-out
    // path still plans its per-partition window over the ranged checkpoint
    val fast = run()
    val ranged = withGateBudget("1")(run())
    assert(fast.rdd.getNumPartitions === 1)
    assert(!fast.queryExecution.executedPlan.toString.contains("Window"))
    assert(ranged.queryExecution.executedPlan.toString.contains("Window"))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select("v", "t", "cum_t", "i").orderBy("v").collect().map(_.toSeq).toSeq
    assert(rows(fast) === rows(ranged))
  }

  test("distributedCumSum: empty and single-row frames") {
    val empty = Relational.distributedCumSum(frame(0), Seq("v"), Seq("t"),
      rankCol = Some("i"))
    assert(empty.count() === 0L)
    val one = Relational.distributedCumSum(frame(1), Seq("v"), Seq("t"),
      rankCol = Some("i")).collect().head
    assert(one.getAs[Long]("cum_t") === one.getAs[Long]("t"))
    assert(one.getAs[Long]("i") === 1L)
  }

  test("exactRankProbe: arbitrary order statistics match a full sort") {
    val xs = (1 to 1000).map(i => ((i.toLong * 48271L) % 100003L).toDouble)
    val df = xs.map(Tuple1(_)).toDF("x")
    val sorted = xs.sorted
    Seq(1L, 7L, 500L, 999L, 1000L).foreach { k =>
      val Some((v, n, _, _)) =
        Relational.exactRankProbe(df, "x", _ => k, bins = 32)
      assert(n === 1000L)
      assert(v === sorted((k - 1).toInt), s"k=$k")
    }
  }

  test("distributedCumMin: equals the single-window ground truth, desc + exclusive") {
    val df = frame(4000).withColumn("v2", (col("t") * 7 + col("v") % 13).cast("long"))
    val got = Relational.distributedCumMin(df, Seq("v"), Seq("v2"),
        descending = true, inclusive = false)
      .select("v", "cummin_v2").orderBy("v").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getLong(1)))
    val w = Window.orderBy(col("v").desc).rowsBetween(Window.unboundedPreceding, -1)
    val want = df.withColumn("cummin_v2", min("v2").over(w))
      .select("v", "cummin_v2").orderBy("v").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getLong(1)))
    assert(got.toSeq === want.toSeq)
    // inclusive ascending variant too
    val gi = Relational.distributedCumMin(df, Seq("v"), Seq("v2"))
      .select("v", "cummin_v2").orderBy("v").collect().map(r => r.getLong(1))
    val wi = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    val wanti = df.withColumn("m", min("v2").over(wi))
      .select("v", "m").orderBy("v").collect().map(r => r.getLong(1))
    assert(gi.toSeq === wanti.toSeq)
  }

  test("distributedCumMin: the only single-partition exchange is the #partitions-row offsets frame") {
    val df = frame(3000).withColumn("v2", col("t"))
    val out = Relational.distributedCumMin(df, Seq("v"), Seq("v2"))
    out.count()
    val plan = out.queryExecution.executedPlan.toString
    // the data-side window must be partitioned by the checkpoint-pinned
    // partition id (the range partitioning itself sits behind the
    // localCheckpoint lineage cut, so it cannot appear in this plan); the
    // one allowed SinglePartition exchange carries the per-partition
    // minima (rows bounded by cluster parallelism, never data size)
    assert(plan.toLowerCase.contains("hashpartitioning(__pid"), plan.take(1500))
    assert(plan.split("Exchange SinglePartition").length - 1 <= 1, plan.take(2500))
  }

}
