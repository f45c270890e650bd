package graft

import org.apache.spark.sql.functions.col

import graft.core.SizeGate

class SizeGateSpec extends SparkSpec {

  test("a filled cache is judged by its measured bytes, an unmaterialized frame by the estimate") {
    // the estimate of a filter is its child's: 10^8 longs, far above the
    // 64 MB default budget; the rows that survive are ten
    val df = spark.range(100000000L).toDF().filter(col("id") < 10)
    assert(SizeGate.sizeInBytes(df) > SizeGate.budget(spark))
    assert(!SizeGate.fits(df))
    val cached = df.persist()
    try {
      assert(!SizeGate.fits(cached), "persisted but not yet filled: still the estimate")
      assert(cached.count() === 10L)
      assert(SizeGate.sizeInBytes(cached) < 10000)
      assert(SizeGate.fits(cached))
      assert(SizeGate.withSlice(cached)(_.rdd.getNumPartitions) === 1)
      // the budget is the advisory partition size, read when the gate asks
      assert(!withGateBudget("1")(SizeGate.fits(cached)))
    } finally { cached.unpersist(); () }
  }
}
