package graft

/** Driver-contract smoke: every declared query runs on sf0.001 and no two
  * registry records share a name (a duplicate would shadow a query and its
  * oracle in the derived maps). */
class EntrySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("registry names are unique") {
    val dups = SparkEntry.registry.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    assert(dups.isEmpty, s"duplicate registry names: $dups")
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs at sf0.001 and returns a well-formed frame") {
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty)
      assert(df.count() >= 0)
    }
  }
}
