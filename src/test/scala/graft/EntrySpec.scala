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

  // with the fallback off, a whole-stage class Janino cannot compile fails
  // the query instead of running it interpreted
  test("q195_random_projection runs as compiled whole-stage code") {
    withConf("spark.sql.codegen.fallback", "false") {
      assert(SparkEntry.queries("q195_random_projection")(spark, sf).collect().nonEmpty)
    }
  }

  // two builds at once, as two engines on one host run them: each writes
  // and reads back its own artifact layer, so both equal a lone build
  for (name <- Seq("q290_pretrain_artifact_roundtrip", "q292_pretrain_layer_compaction")) {
    test(s"$name: concurrent builds each read their own layer") {
      def rows() = SparkEntry.queries(name)(spark, sf).collect().map(_.toString).sorted.toSeq
      val lone = rows()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val runs = Seq.fill(2)(pool.submit(() => scala.util.Try(rows())))
      val got = try runs.map(_.get()) finally pool.shutdown()
      got.foreach(r => assert(r.get === lone))
    }
  }

  // q160 writes its layer under the per-JVM root deleted at exit, so a
  // build adds no directory of its own to the shared temp dir
  test("q160_takedown: a build leaves no layer directory in the temp dir") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def layers() = tmp.list().filter(_.startsWith("graft_takedown_gate_")).toSet
    val before = layers()
    assert(SparkEntry.queries("q160_takedown")(spark, sf).collect().nonEmpty)
    assert((layers() -- before).isEmpty)
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs at sf0.001 and returns a well-formed frame") {
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty)
      assert(df.count() >= 0)
    }
  }
}
