package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession

/** Shared test harness: one SparkSession for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** `body` with the session's runtime setting `key` at `value`, the
    * previous setting restored after. */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val before = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** `body` with the [[graft.core.SizeGate]] budget
    * (`spark.sql.adaptive.advisoryPartitionSizeInBytes`) at `bytes`. At `1`
    * every gate consumer takes its scale-out branch. */
  def withGateBudget[T](bytes: String)(body: => T): T =
    withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes", bytes)(body)
}

/** The oracle GATE dataset the margin specs (DsirMarginSpec,
  * PagerankMarginSpec) pin their cross-build boundary guarantees on.
  * Parameterized via GRAFT_GATE_SF and FAILS LOUDLY when absent — an
  * assume-skip here would silently void the boundary-margin claim the
  * README makes (round-8 advice). */
object GateData {
  lazy val dir: String = {
    val d = sys.env.getOrElse("GRAFT_GATE_SF", "/root/testdata/sf0.01")
    require(new java.io.File(d).isDirectory,
      s"gate dataset missing: $d — the margin specs are part of the " +
        "cross-build invariance guarantee and must not silently skip; " +
        "point GRAFT_GATE_SF at the sf0.01 parquet tables")
    d
  }
}

/** Builders for TripClick-shaped raw JSON events (the reference's input
  * format, SURVEY.md §1.2) without copying any reference data. */
object Fixtures {

  def rawEventJson(
      sessionId: String,
      documentId: Int,
      eventTs: String,          // ISO-8601
      eventDate: String,        // YYYY-MM-DD
      clinicalAreas: String = ",Oncology,Surgery",
      title: String = "doc title",
      dedupKey: String = null): String = {
    val key = Option(dedupKey).getOrElse(s"$sessionId-$documentId-$eventTs")
    s"""{"DateCreated":"/Date(1452038902000)/","SessionId":"$sessionId",""" +
      s""""DocumentId":$documentId,"Url":"http://example.org/d/$documentId",""" +
      s""""Title":"$title","DOI":"10.1000/$documentId","Keywords":"kw1 kw2",""" +
      s""""ClinicalAreas":"$clinicalAreas","Documents":[],""" +
      s""""event_ts":"$eventTs","event_date":"$eventDate","dedup_key":"$key"}"""
  }

  /** Write JSONL files to a directory; returns the directory. */
  def writeJsonl(dir: String, name: String, lines: Seq[String]): String = {
    val p = java.nio.file.Paths.get(dir, name)
    java.nio.file.Files.write(p, String.join("\n", lines: _*).getBytes("UTF-8"))
    dir
  }
}
