package graft

import java.io.File

import graft.sinks.Compactor

/** Crash-window coverage for the compaction swap: at every injected kill
  * point both copies of the data exist on disk and [[Compactor.recover]]
  * restores a readable layer — the guarantee the reference's
  * delete-then-rename swap (S2C:203-212) does not have. */
class CompactorSpec extends SparkSpec {

  private def writeLayer(layer: String, n: Int = 1000): Unit =
    spark.range(n).toDF("id").repartition(8).write.parquet(layer)

  private def intercept[T](body: => Unit): Unit =
    try { body; fail("expected SimulatedCrash") }
    catch { case _: Compactor.SimulatedCrash => () }

  test("crash between archive and promote: roll-forward, layer readable") {
    val layer = tmpDir("compact_crash1") + "/layer"
    writeLayer(layer)
    intercept(Compactor.compactImpl(spark, layer, 1, Nil, failAt = 1))
    // the layer path is momentarily absent, but both copies are on disk
    assert(!new File(layer).exists())
    assert(new File(layer + "_old").exists())
    assert(new File(layer + "_compacted", "_SUCCESS").exists())
    assert(Compactor.recover(spark, layer) === "rolled-forward")
    assert(spark.read.parquet(layer).count() === 1000)
    // recovery promoted the COMPACTED copy and cleaned the work dirs
    assert(new File(layer).listFiles().count(_.getName.endsWith(".parquet")) === 1)
    assert(!new File(layer + "_old").exists())
    assert(!new File(layer + "_compacted").exists())
  }

  test("crash after promote, before cleanup: layer already live") {
    val layer = tmpDir("compact_crash2") + "/layer"
    writeLayer(layer)
    intercept(Compactor.compactImpl(spark, layer, 1, Nil, failAt = 2))
    // no recovery needed to read — the promote was the last atomic step
    assert(spark.read.parquet(layer).count() === 1000)
    assert(Compactor.recover(spark, layer) === "clean")
    assert(!new File(layer + "_old").exists())
  }

  test("incomplete rewrite (no _SUCCESS): roll-back to the archived layer") {
    val layer = tmpDir("compact_crash3") + "/layer"
    writeLayer(layer, n = 7)
    // simulate a crash mid-write-after-archive: layer aside, torn tmp dir
    assert(new File(layer).renameTo(new File(layer + "_old")))
    val torn = new File(layer + "_compacted")
    assert(torn.mkdirs())
    java.nio.file.Files.write(new File(torn, "part-torn.parquet").toPath,
      Array[Byte](1, 2, 3))
    assert(Compactor.recover(spark, layer) === "rolled-back")
    assert(spark.read.parquet(layer).count() === 7)
    assert(!torn.exists())
  }

  test("compact on a recovered-dirty state still converges") {
    val layer = tmpDir("compact_dirty") + "/layer"
    writeLayer(layer)
    intercept(Compactor.compactImpl(spark, layer, 1, Nil, failAt = 1))
    // a fresh compact() first repairs, then compacts normally
    Compactor.compact(spark, layer, targetFiles = 1)
    assert(spark.read.parquet(layer).count() === 1000)
    assert(new File(layer).listFiles().count(_.getName.endsWith(".parquet")) === 1)
    assert(!new File(layer + "_old").exists())
    assert(!new File(layer + "_compacted").exists())
  }

  test("a layer written by a streaming file sink is refused, untouched") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val layer = tmpDir("compact_sink") + "/layer"
    val input = MemoryStream[Long](spark)
    val q = input.toDF().writeStream.format("parquet")
      .option("checkpointLocation", tmpDir("compact_sink_ck")).start(layer)
    try {
      input.addData(1L to 10L); q.processAllAvailable()
      input.addData(11L to 20L); q.processAllAvailable()
    } finally q.stop()
    def files = new File(layer).listFiles().map(_.getName).sorted.toSeq
    val before = files
    assert(before.contains("_spark_metadata"))
    Seq[() => Any](() => Compactor.compact(spark, layer), () => Compactor.recover(spark, layer))
      .foreach { call =>
        val e = scala.util.Try(call()).failed.get
        assert(e.isInstanceOf[IllegalArgumentException] && e.getMessage.contains("_spark_metadata"))
      }
    assert(files === before)
    assert(!new File(layer + "_compacted").exists() && !new File(layer + "_old").exists())
    assert(spark.read.parquet(layer).count() === 20)
  }
}
