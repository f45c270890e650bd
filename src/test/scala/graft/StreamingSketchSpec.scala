package graft

import graft.analysis.Sketches

/** Batch sketch builds applied per micro-batch and merged across a stream
  * equal the batch build of the union. */
class StreamingSketchSpec extends SparkSpec {
  import spark.implicits._

  test("bloom bits accumulated across micro-batches equal the batch bits of the union") {
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[String](spark)
    // the streaming artifact: set-bit positions OR-merged per micro-batch —
    // a distinct-union of per-batch bloomBits frames (the mergeability law
    // q190 gates against the oracle, exercised here across a stream)
    val acc = scala.collection.mutable.Set.empty[Long]
    val q = input.toDS().toDF("key")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        Sketches.bloomBits(df, bits = 512, k = 3)
          .collect().foreach(r => acc += r.getLong(0))
      }
      .outputMode("append").start()
    try {
      input.addData((1 to 40).map(i => s"k$i"): _*)
      q.processAllAvailable()
      input.addData((30 to 80).map(i => s"k$i"): _*) // overlap on purpose
      q.processAllAvailable()
      val union = (1 to 80).map(i => s"k$i").toDF("key")
      val batch = Sketches.bloomBits(union, bits = 512, k = 3)
        .collect().map(_.getLong(0)).toSet
      assert(acc.toSet === batch) // bit-identical artifact
      // and the merged artifact answers probes with no false negatives
      val probe = Sketches.bloomProbe(acc.toSeq.toDF("p"), union, bits = 512, k = 3)
        .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
      assert(probe.size === 80 && probe.values.forall(identity))
    } finally q.stop()
  }

  test("hdr histograms accumulated across micro-batches equal the batch histogram of the union") {
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long)](spark)
    // counts merge by ADDITION — the streaming artifact is a running sum
    // per (group, bucket), exactly what hdrQuantiles consumes downstream
    val acc = scala.collection.mutable.Map.empty[(String, Int, Int), Long]
    val q = input.toDS().toDF("g", "v")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        Sketches.hdrHistogram(df, "g", "v").collect().foreach { r =>
          val k = (r.getString(0), r.getInt(2), r.getInt(3))
          acc(k) = acc.getOrElse(k, 0L) + r.getLong(4)
        }
      }
      .outputMode("append").start()
    try {
      input.addData((1 to 300).map(i => ("g", i.toLong)): _*)
      q.processAllAvailable()
      input.addData((200 to 900).map(i => ("g", i.toLong)): _*)
      q.processAllAvailable()
      val union = ((1 to 300) ++ (200 to 900)).map(i => ("g", i.toLong)).toDF("g", "v")
      val batch = Sketches.hdrHistogram(union, "g", "v").collect()
        .map(r => (r.getString(0), r.getInt(2), r.getInt(3)) -> r.getLong(4)).toMap
      assert(acc.toMap === batch) // additive merge is exact, not approximate
    } finally q.stop()
  }

  test("kn bigram model accumulated across micro-batches equals the batch model of the union") {
    import graft.analysis.TextAnalysis
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](spark)
    // c12 counts merge by ADDITION — the streaming artifact is a running
    // per-(w1, w2) sum, exactly what kneserNeyFromModel consumes
    val acc = scala.collection.mutable.Map.empty[(String, String), Long]
    val q = input.toDS().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        TextAnalysis.kneserNeyModel(df).collect().foreach { r =>
          val k = (r.getString(0), r.getString(1))
          acc(k) = acc.getOrElse(k, 0L) + r.getLong(2)
        }
      }
      .outputMode("append").start()
    val b1 = Seq((1L, "a b a b a c"))
    val b2 = Seq((2L, "b a c a"), (3L, "a b"))
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val batch = TextAnalysis.kneserNeyModel((b1 ++ b2).toDF("doc_id", "text"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(acc.toMap === batch)
  }
}
