package graft

import graft.relational.{BloomJoin, Relational}

class BloomJoinSpec extends SparkSpec {
  import spark.implicits._

  test("bloom semi-join result is exact despite false positives") {
    val probe = (1L to 2000L).map(i => (i, s"row$i")).toDF("k", "payload")
    val build = Seq(3L, 7L, 1500L).toDF("bk")
    // tiny filter + high fpp to force false positives through the prefilter
    val out = BloomJoin.semiJoin(probe, build, "k", "bk",
        expectedItems = 3, fpp = 0.5)
      .collect().map(_.getLong(0)).sorted
    assert(out.toSeq === Seq(3L, 7L, 1500L))
  }

  test("bloom prefilter prunes non-members and never drops members") {
    val build = (1L to 100L).map(i => i * 37).toDF("bk")
    val bf = BloomJoin.buildFilter(build, "bk", expectedItems = 100, fpp = 0.01)
    assert((1L to 100L).forall(i => bf.mightContainLong(i * 37))) // no false negatives
    val fp = (1L to 10000L).count(i => !build.collect().map(_.getLong(0)).contains(i) && bf.mightContainLong(i))
    assert(fp < 300, s"false-positive count $fp far above the 1% design point")
  }

  test("pareto frontier: dominated rows drop, both-axis ties survive") {
    val pts = Seq(
      (1L, 10, 5.0),  // frontier: biggest size
      (2L, 10, 7.0),  // dominated by 1 (same size, higher price)
      (3L, 8, 3.0),   // frontier: cheaper than everything larger
      (4L, 8, 3.0),   // tie with 3 on both axes -> survives too
      (5L, 6, 4.0),   // dominated by 3 (smaller size, higher price)
      (6L, 2, 1.0)    // frontier: cheapest overall
    ).toDF("id", "sz", "price")
    val out = Relational.paretoFrontier(pts, "id", "sz", "price")
      .collect().map(_.getLong(0)).sorted
    assert(out.toSeq === Seq(1L, 3L, 4L, 6L))
  }

  test("pareto frontier: equal-price point at larger size dominates") {
    val pts = Seq((1L, 9, 5.0), (2L, 7, 5.0)).toDF("id", "sz", "price")
    val out = Relational.paretoFrontier(pts, "id", "sz", "price")
      .collect().map(_.getLong(0))
    assert(out.toSeq === Seq(1L)) // 2 is dominated: same price, smaller size
  }

  test("peak concurrency: overlap counts, touching intervals do not") {
    val iv = Seq(
      ("g", 0, 10), ("g", 5, 15), ("g", 9, 20), // 3 live in [9,10)
      ("g", 10, 11),                            // starts AS the first ends -> no bump
      ("h", 0, 1), ("h", 1, 2), ("h", 2, 3)     // chain of touching intervals
    ).toDF("grp", "s", "e")
    val out = Relational.peakConcurrency(iv, "grp", "s", "e")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("g") === 3L)
    assert(out("h") === 1L) // half-open: [0,1) and [1,2) never coexist
  }
}
