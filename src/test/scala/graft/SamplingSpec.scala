package graft

import org.apache.spark.sql.functions._

import graft.analysis.Sampling

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val rows = (1L to 2000L).map(i =>
    (i, if (i % 4 == 0) "en" else if (i % 4 == 1) "de" else "zh"))
    .toDF("id", "lang")

  /** One fraction for every stratum: a plain Bernoulli sample gated on `id`. */
  private def uniform(df: org.apache.spark.sql.DataFrame, fraction: Double) =
    Sampling.stratifiedHashSample(df, "lang", "id", Map.empty, default = fraction)

  test("hash sample hits the target fraction within tolerance and is deterministic") {
    val s1 = uniform(rows, 0.3).select("id").as[Long].collect().toSet
    val s2 = uniform(rows.repartition(13), 0.3).select("id").as[Long].collect().toSet
    assert(s1 === s2, "selection must not depend on partitioning")
    val rate = s1.size.toDouble / 2000
    assert(rate > 0.25 && rate < 0.35, s"rate $rate out of tolerance")
  }

  test("smaller fraction is a subset of larger (nested carve-outs)") {
    val p = uniform(rows, 0.1).select("id").as[Long].collect().toSet
    val q = uniform(rows, 0.4).select("id").as[Long].collect().toSet
    assert(p.subsetOf(q))
  }

  test("stratified: per-stratum rates honored, default applied to unlisted strata") {
    val out = Sampling.stratifiedHashSample(rows, "lang", "id",
      fractions = Map("en" -> 0.8, "de" -> 0.2), default = 0.0)
    val byLang = out.groupBy("lang").count().as[(String, Long)].collect().toMap
    val totals = rows.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(!byLang.contains("zh"), "default 0.0 must exclude unlisted strata")
    val enRate = byLang("en").toDouble / totals("en")
    val deRate = byLang("de").toDouble / totals("de")
    assert(enRate > 0.72 && enRate < 0.88, s"en rate $enRate")
    assert(deRate > 0.13 && deRate < 0.27, s"de rate $deRate")
  }

  test("stratified membership is independent of the stratum column (same key → same bucket)") {
    // a document keeps/loses membership based only on its key hash vs the
    // stratum threshold — relabeling a stratum to the same fraction must
    // select the identical ids
    val a = Sampling.stratifiedHashSample(rows, "lang", "id",
      Map("en" -> 0.3), default = 0.3).select("id").as[Long].collect().toSet
    val b = uniform(rows, 0.3).select("id").as[Long].collect().toSet
    assert(a === b)
  }

  test("weighted sampling: heavy rows oversample, zero weight never selects, determinism holds") {
    import spark.implicits._
    // half the keys weigh 1, half weigh 9 → heavy rows should be selected
    // at ~9x the light rate at fraction 0.1 (mean weight 5 → p=0.02 vs 0.18)
    val df = (1L to 4000L).map(i => (i, if (i % 2 == 0) 9.0 else 1.0)).toDF("id", "w")
    val picked = Sampling.weightedHashSample(df, "id", "w", fraction = 0.1)
      .select("id").as[Long].collect().toSet
    val heavy = picked.count(_ % 2 == 0).toDouble
    val light = picked.count(_ % 2 != 0).toDouble
    assert(heavy / 2000 > 0.12 && heavy / 2000 < 0.25, s"heavy rate ${heavy / 2000}")
    assert(light / 2000 > 0.005 && light / 2000 < 0.05, s"light rate ${light / 2000}")
    // zero-weight rows can never be selected (threshold 0 > no bucket)
    val withZero = df.withColumn("w", when(col("id") <= 2000, 0.0).otherwise(col("w")))
    val z = Sampling.weightedHashSample(withZero, "id", "w", fraction = 0.1)
      .select("id").as[Long].collect()
    assert(z.forall(_ > 2000))
    // same inputs → identical set on re-run (determinism)
    val again = Sampling.weightedHashSample(df, "id", "w", fraction = 0.1)
      .select("id").as[Long].collect().toSet
    assert(again === picked)
  }

  test("weighted reservoir: exactly k, heavy rows dominate, non-positive weights excluded, deterministic") {
    import spark.implicits._
    val df = (1L to 4000L)
      .map(i => (i, if (i % 2 == 0) 9.0 else 1.0)).toDF("id", "w")
    val picked = Sampling.weightedReservoir(df, k = 200, "id", col("w"))
    val ids = picked.select("id").as[Long].collect()
    assert(ids.length === 200)
    assert(ids.distinct.length === 200) // without replacement
    // E[heavy share] = 9/10 of draws; allow slack for hash variance
    val heavy = ids.count(_ % 2 == 0).toDouble
    assert(heavy / 200 > 0.75, s"heavy share ${heavy / 200}")
    // rank 1..k dense, ordered by the ES key
    assert(picked.select("sample_rank").as[Int].collect().toSeq === (1 to 200))
    // zero/negative weights can never enter the sample
    val withZero = df.withColumn("w", when(col("id") <= 3900, 0.0).otherwise(col("w")))
    val z = Sampling.weightedReservoir(withZero, k = 200, "id", col("w"))
      .select("id").as[Long].collect()
    assert(z.length === 100 && z.forall(_ > 3900))
    // replay-deterministic (hash keys, no RNG)
    val again = Sampling.weightedReservoir(df, k = 200, "id", col("w"))
      .select("id").as[Long].collect()
    assert(again.toSeq === ids.toSeq)
  }

  test("sample plan is a pure filter: no exchange") {
    val plan = uniform(rows, 0.5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"sampling must not shuffle:\n$plan")
  }

  test("neyman sample: high-variance strata get more budget, determinism holds") {
    // stratum 'wild' has ~100x the spread of 'tame' at equal size
    val nRows = (1 to 200).map(i => (i.toLong, "tame", 100.0 + (i % 10))) ++
      (201 to 400).map(i => (i.toLong, "wild", 100.0 + (i % 10) * 100))
    val df = nRows.toDF("id", "s", "v")
    val out = Sampling.neymanSample(df, "s", "id", "v", totalBudget = 100)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val byStratum = out.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byStratum("wild") > 5 * byStratum.getOrElse("tame", 0))
    assert(out.length <= 100)
    // same inputs -> the same SET of ids, not just the same counts
    val again = Sampling.neymanSample(df, "s", "id", "v", totalBudget = 100)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(again.sorted.toSeq === out.sorted.toSeq)
  }

  test("neyman sample: allocation capped at stratum size") {
    val df = ((1 to 3).map(i => (i.toLong, "tiny", i * 1000.0)) ++
      (4 to 103).map(i => (i.toLong, "big", 50.0 + i))).toDF("id", "s", "v")
    val out = Sampling.neymanSample(df, "s", "id", "v", totalBudget = 80)
      .collect().map(r => r.getString(1))
    assert(out.count(_ == "tiny") <= 3)
  }

  test("negative sampling: k per anchor, no self, deterministic, anchor-local draws") {
    val pool = (1L to 40L).map(Tuple1(_)).toDF("doc_id")
    val anchors = Seq(1L, 2L).map(Tuple1(_)).toDF("doc_id")
    val out = Sampling.negativeSample(pool, anchors, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out.length === 10)
    assert(out.forall { case (a, n, _) => a != n })
    out.groupBy(_._1).values.foreach(g => assert(g.map(_._3).sorted.toSeq === (1 to 5)))
    // replayable: same draw on a rerun
    val again = Sampling.negativeSample(pool, anchors, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(again.sorted.toSeq === out.sorted.toSeq)
    // adding an anchor never disturbs existing anchors' draws (the hash
    // depends only on the (anchor, candidate) pair)
    val more = Sampling.negativeSample(pool,
        Seq(1L, 2L, 3L).map(Tuple1(_)).toDF("doc_id"), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(more.filter(_._1 != 3L).sorted.toSeq === out.sorted.toSeq)
  }

  test("hard negatives: same-label (incl. self) excluded, ranked by cosine desc") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),   // anchor
      (1L, Array(0.99f, 0.1f, 0.0f), 0),  // same label: excluded though closest
      (2L, Array(0.9f, 0.1f, 0.0f), 1),   // hardest negative
      (3L, Array(0.0f, 1.0f, 0.0f), 1),   // orthogonal
      (4L, Array(-1.0f, 0.0f, 0.0f), 2)   // anti-parallel
    ).toDF("vec_id", "embedding", "label")
    val out = Sampling.hardNegatives(vecs, vecs.filter(col("vec_id") === 0), k = 2)
      .orderBy("rank").collect()
    assert(out.map(r => (r.getLong(1), r.getInt(3))).toSeq === Seq((2L, 1), (3L, 2)))
    assert(out.map(_.getAs[Int]("neg_label")).toSeq === Seq(1, 1))
    val cos = out.map(_.getAs[Double]("cosine"))
    assert(cos(0) > 0.99 && math.abs(cos(1)) < 1e-9) // ranked by similarity
  }

  test("samplePerGroup: cutoff prefilter is exact under heavy skew, small groups whole") {
    import spark.implicits._
    // hot group: 5000 rows; cold group: 3 rows (< k)
    val rows = (0L until 5000L).map(i => (i, "hot")) ++
      (9000L until 9003L).map(i => (i, "cold"))
    val df = rows.toDF("doc_id", "grp")
    val out = Sampling.samplePerGroup(df, "grp", "doc_id", k = 10)
      .collect().map(r => (r.getAs[String]("grp"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("sample_rank")))
    // exact contract: identical to the naive full rank (computed here on
    // the driver from the same md5-derived hashes)
    def h(id: Long) = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    val expectHot = (0L until 5000L).sortBy(i => (h(i), i)).take(10).toSet
    assert(out.filter(_._1 == "hot").map(_._2).toSet === expectHot)
    assert(out.count(_._1 == "hot") === 10)
    // group smaller than k: every row sampled, ranks 1..3
    assert(out.filter(_._1 == "cold").map(_._3).sorted.toSeq === Seq(1, 2, 3))
  }
}
