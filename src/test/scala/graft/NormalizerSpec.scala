package graft

import org.apache.spark.sql.functions._

import graft.ingest.Normalizer

class NormalizerSpec extends SparkSpec {
  import spark.implicits._

  private def rawDf(lines: Seq[String]) =
    spark.createDataset(lines).toDF("json")

  test("fromJsonLines produces the curated snake_case projection") {
    val out = Normalizer.fromJsonLines(rawDf(Seq(
      Fixtures.rawEventJson("s1", 42, "2026-01-01T15:00:00+00:00", "2026-01-01"))))
    assert(out.columns.toSeq === Seq("session_id", "document_id", "url", "title",
      "doi", "keywords", "clinical_areas", "event_ts", "event_date", "dedup_key"))
    val row = out.collect().head
    assert(row.getAs[String]("session_id") === "s1")
    assert(row.getAs[Int]("document_id") === 42)
    assert(row.getAs[java.sql.Timestamp]("event_ts").toInstant.toString
      === "2026-01-01T15:00:00Z")
  }

  test("rows with null dedup_key are dropped (P5)") {
    val good = Fixtures.rawEventJson("s1", 1, "2026-01-01T15:00:00+00:00", "2026-01-01")
    val bad = good.replace(""","dedup_key":"s1-1-2026-01-01T15:00:00+00:00"}""", "}")
    assert(Normalizer.fromJsonLines(rawDf(Seq(good, bad))).count() === 1)
  }

  test("dead-letter channel captures unparseable and keyless rows with reasons") {
    val good = Fixtures.rawEventJson("s1", 1, "2026-01-01T15:00:00+00:00", "2026-01-01")
    val keyless = good.replace(""","dedup_key":"s1-1-2026-01-01T15:00:00+00:00"}""", "}")
    val garbage = "this is { not json"
    val (ok, bad) = Normalizer.fromJsonLinesWithDeadLetter(
      rawDf(Seq(good, keyless, garbage)))
    assert(ok.count() === 1)
    val rejects = bad.select("reject_reason").collect().map(_.getString(0)).sorted
    assert(rejects.toSeq === Seq("missing_dedup_key", "unparseable_json"))
    // raw payload preserved for replay/forensics
    assert(bad.filter(col("reject_reason") === "unparseable_json")
      .select("raw").collect().head.getString(0) === garbage)
  }

  test("each line lands in exactly one of curated / quarantine, type-mismatched ones included") {
    val good = Fixtures.rawEventJson("s1", 1, "2026-01-01T15:00:00+00:00", "2026-01-01")
    val keyless = good.replace(""","dedup_key":"s1-1-2026-01-01T15:00:00+00:00"}""", "}")
    // dedup_key parses, DocumentId does not convert to an int
    val mismatched = """{"DocumentId":"abc","dedup_key":"k1"}"""
    val lines = Seq(good, keyless, mismatched, "this is { not json")
    // the stream curates with fromJsonLines and quarantines with the bad
    // side of the dead-letter parse: the two must partition the input
    val curated = Normalizer.fromJsonLines(rawDf(lines))
      .select("dedup_key").as[String].collect().toSeq
    val rejected = Normalizer.fromJsonLinesWithDeadLetter(rawDf(lines))._2
      .select("raw", "reject_reason").as[(String, String)].collect().toMap
    assert(curated === Seq("s1-1-2026-01-01T15:00:00+00:00"))
    assert(rejected.keySet === Set(keyless, mismatched, "this is { not json"))
    assert(rejected(mismatched) === "unparseable_json")
    val kafka = lines.map(_.getBytes("UTF-8")).toDF("value")
    assert(Normalizer.fromKafkaFrame(kafka).select("dedup_key").as[String].collect().toSeq
      === curated)
  }

  test("dedupFirst keeps exactly the first row per key, deterministically") {
    val df = Seq(
      ("k1", "2026-01-01T15:00:00", 1),
      ("k1", "2026-01-01T15:00:01", 2),
      ("k2", "2026-01-01T15:00:02", 3)
    ).toDF("dedup_key", "ts", "payload")
    val out = Normalizer.dedupFirst(df, Seq("dedup_key"), Seq(col("ts"), col("payload")))
      .orderBy("dedup_key").collect()
    assert(out.map(_.getAs[Int]("payload")).toSeq === Seq(1, 3))
  }
}
