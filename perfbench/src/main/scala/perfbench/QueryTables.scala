package perfbench

import java.nio.file.Path
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded tables in the shape of the engine's test data (`Tables`): the
  * TPC-H-like `region nation supplier orders lineitem`, the `events`
  * stream, `documents` and `embeddings`, one parquet file each, with the
  * same column names and types (timestamps without time zone): 1k events,
  * 500 documents, 500 embeddings, 1.5k orders and 6k line items. */
object QueryTables {

  def write(spark: SparkSession, seed: Long, dir: Path): Unit = {
    def out(name: String, df: org.apache.spark.sql.DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)
    // uniform [0, 1) from (seed, row id, salt): the same on every run
    def u(salt: Int): Column =
      (pmod(xxhash64(lit(seed), col("id"), lit(salt)), lit(1000003L)) / 1000003.0)
    def ts(start: String, spanDays: Double, x: Column): Column = {
      val t0 = java.time.LocalDateTime.parse(start).toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
      timestamp_micros(lit(t0) + (x * spanDays * 86400e6).cast("long")).cast("timestamp_ntz")
    }

    val nEvents = 1000L
    out("events", spark.range(nEvents).select(
      col("id").as("event_id"),
      ts("2024-01-01T00:00:00", 30.0, (col("id") + u(1)) / nEvents).as("ts"),
      floor(pow(u(2), 1.5) * 150).cast("long").as("user_id"),
      element_at(array(Seq("click", "view", "purchase", "signup", "error").map(lit): _*),
        (floor(u(3) * 5) + 1).cast("int")).as("event_type"),
      round(u(4) * 490 + 0.01, 2).as("value"),
      concat(lit("{\"k\": "), floor(pow(u(5), 2.0) * 100).cast("long").cast("string"), lit("}")).as("props")))

    out("region", spark.createDataFrame(
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (r, i) => Row(i, r) }.asJava,
      StructType(Seq(StructField("r_regionkey", IntegerType), StructField("r_name", StringType)))))
    out("nation", spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id").cast("string")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")))
    val nSupp = 10L
    out("supplier", spark.range(nSupp).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      floor(u(6) * 25).cast("int").as("s_nationkey"),
      round(u(7) * 10999 - 999, 2).as("s_acctbal")))
    val nOrders = 1500L
    out("orders", spark.range(nOrders).select(col("id").as("o_orderkey"),
      floor(u(8) * 150).cast("long").as("o_custkey"),
      element_at(array(lit("F"), lit("O"), lit("P")), (floor(u(9) * 3) + 1).cast("int")).as("o_orderstatus"),
      round(u(10) * 500000 + 900, 2).as("o_totalprice"),
      ts("1992-01-01T00:00:00", 365.0 * 7, floor(u(11) * 2555) / 2555.0).as("o_orderdate"),
      element_at(array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").map(lit): _*),
        (floor(u(12) * 5) + 1).cast("int")).as("o_orderpriority")))
    out("lineitem", spark.range(6000).select(
      floor(u(13) * nOrders).cast("long").as("l_orderkey"),
      floor(u(14) * 200).cast("long").as("l_partkey"),
      floor(u(15) * nSupp).cast("long").as("l_suppkey"),
      (col("id") % 7 + 1).cast("int").as("l_linenumber"),
      (floor(u(16) * 50) + 1).cast("double").as("l_quantity"),
      round(u(17) * 100000 + 900, 2).as("l_extendedprice"),
      round(floor(u(18) * 11) / 100.0, 2).as("l_discount"),
      round(floor(u(19) * 9) / 100.0, 2).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (floor(u(20) * 3) + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("O"), lit("F")), (floor(u(21) * 2) + 1).cast("int")).as("l_linestatus"),
      ts("1992-01-02T00:00:00", 365.0 * 9, floor(u(22) * 3285) / 3285.0).as("l_shipdate")))

    val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", LongType)))
    out("documents", spark.createDataFrame(Gen.documents(seed, 500)
      .map { case (a, b, c, d, e) => Row(a, b, c, d, e) }.asJava, docSchema))

    // embeddings: ten labelled clusters in 64 dimensions
    val r = new SplittableRandom(seed ^ 0xE3BEDL)
    val centers = Array.fill(10, 64)(r.nextGaussian() * 0.15)
    val emb = (0 until 500).map { i =>
      val label = r.nextInt(10)
      Row(i.toLong, centers(label).map(c => (c + r.nextGaussian() * 0.05).toFloat).toSeq, label)
    }
    out("embeddings", spark.createDataFrame(emb.asJava, StructType(Seq(
      StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))))
  }
}
