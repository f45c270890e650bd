package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.relational.SkewJoin
import graft.streaming.Sessionize

class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("melt inverts pivot: every (id, type) cell becomes a row, zero-fills included") {
    import spark.implicits._
    import graft.relational.Relational
    val events = Seq(
      ("2024-01-01", "click"), ("2024-01-01", "click"), ("2024-01-01", "view"),
      ("2024-01-02", "view")
    ).toDF("event_date", "event_type")
    val types = Seq("click", "view")
    val long = Relational.melt(
        Relational.dailyTypePivot(events, types, dateCol = "event_date"),
        Seq("event_date"), types, "event_type", "cnt")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(long === Map(
      ("2024-01-01", "click") -> 2L, ("2024-01-01", "view") -> 1L,
      ("2024-01-02", "click") -> 0L, ("2024-01-02", "view") -> 1L))
  }

  test("profile: nulls, cardinality, and range per column in one pass") {
    import spark.implicits._
    val df = Seq(
      (1L, Option("a"), Option(10)), (2L, Option("b"), None), (3L, Option.empty[String], Option(30))
    ).toDF("id", "s", "v")
    val out = graft.analysis.Profiling.profile(df, Seq("id", "s", "v"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getString(4)))).toMap
    assert(out("id") === ((0L, 3L, "1", "3")))
    assert(out("s") === ((1L, 2L, "a", "b")))
    assert(out("v") === ((1L, 2L, "10", "30")))
  }

  test("equi-depth histogram: near-equal bin counts, contiguous ranges, no global sort") {
    import spark.implicits._
    val df = (1 to 1000).map(_.toDouble).toDF("v")
    val h = graft.relational.Relational.equiDepthHistogram(df, "v", bins = 10)
    val rows = h.collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq === (1 to 10))
    assert(rows.forall { case (_, n, _, _) => n >= 99 && n <= 101 }, rows.mkString(","))
    // bins tile the domain: each lo follows the previous hi
    rows.sliding(2).foreach { case Array((_, _, _, hi1), (_, _, lo2, _)) =>
      assert(lo2 > hi1)
    case _ => () }
    assert(!h.queryExecution.executedPlan.toString.contains("Window"),
      "equi-depth must not plan a global window sort")
  }

  test("mad outliers: extreme value flagged, inliers untouched, scale is robust") {
    import spark.implicits._
    val df = ((1 to 9).map(i => ("g", i.toLong, i.toDouble)) :+ (("g", 100L, 100.0)))
      .toDF("grp", "id", "v")
    val out = graft.relational.Relational.madOutliers(df, "grp", "id", "v", k = 6.0)
      .collect().map(r => (r.getLong(1), r.getDouble(5)))
    // median 5.5, MAD 2.5 -> only 100 (absdev 94.5, z 37.8) crosses 6*MAD=15
    assert(out.toSeq === Seq((100L, 37.8)))
  }

  test("salted join equals the plain join result (skew path)") {
    val big = Seq.tabulate(1000)(i => (i % 3, i)).toDF("k", "v")          // skewed: 3 keys
    val small = Seq((0, "a"), (1, "b"), (2, "c"), (9, "zz")).toDF("k", "name")
    val plain = big.join(small, Seq("k")).select("k", "v", "name")
    val salted = SkewJoin.saltedEquiJoin(big, small, "k", saltFactor = 4)
      .select("k", "v", "name")
    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("skew report: hand-computed percentiles, interpolated p99, clamped salt") {
    import spark.implicits._
    // counts per key: a=8, b..e=2 each -> sorted [2,2,2,2,8]
    val df = (Seq.fill(8)("a") ++ Seq.fill(2)("b") ++ Seq.fill(2)("c") ++
      Seq.fill(2)("d") ++ Seq.fill(2)("e")).map(Tuple1(_)).toDF("k")
    val r = SkewJoin.skewReport(df, "k").collect().head
    assert(r.getLong(0) === 16L && r.getLong(1) === 5L && r.getLong(2) === 8L)
    assert(r.getDouble(3) === 2.0)
    assert(r.getDouble(4) === 7.76)          // 2 + 0.96*(8-2)
    assert(r.getDouble(5) === 4.0)           // max / p50
    assert(r.getInt(6) === 2)                // ceil(8 / 7.76), clamped to [1,32]
    // uniform keys: no skew, salt collapses to 1
    val flat = Seq("x", "y", "z").map(Tuple1(_)).toDF("k")
    val f = SkewJoin.skewReport(flat, "k").collect().head
    assert(f.getDouble(5) === 1.0 && f.getInt(6) === 1)
  }

  test("batched embed: full batches except the partition tail, rows preserved, model batch-called") {
    import spark.implicits._
    import graft.analysis.Multimodal
    val sizes = spark.sparkContext.collectionAccumulator[Int]("batch_sizes")
    val docs = (1L to 23L).map(i => (i, s"doc $i")).toDF("doc_id", "text").repartition(2)
    // closures serialize per task even in local mode, so the model reports
    // its batch sizes through an accumulator
    val out = Multimodal.batchedEmbed(docs,
      model = batch => { sizes.add(batch.length); batch.map(_ => Array(1.0)) },
      batchSize = 5).collect()
    assert(out.length === 23, "every row survives batching")
    assert(out.map(_.getLong(0)).toSet === (1L to 23L).toSet)
    val observed = {
      import scala.jdk.CollectionConverters._
      sizes.value.asScala.map(_.intValue).toList
    }
    assert(observed.forall(_ <= 5))
    assert(observed.count(_ < 5) <= 2, "at most one partial batch per partition")
    assert(observed.sum === 23)
  }

  test("batched embed stub model is deterministic and md5-derived") {
    import spark.implicits._
    import graft.analysis.Multimodal
    val docs = Seq((1L, "hello")).toDF("doc_id", "text")
    val vec = Multimodal.batchedEmbed(docs).collect().head.getSeq[Double](1)
    val md = java.security.MessageDigest.getInstance("MD5").digest("hello".getBytes("UTF-8"))
    assert(vec === (0 until 8).map(j => (md(j) & 0xff) / 256.0))
  }

  test("clip filter: self-captioned docs score exactly 1.0; keep bit follows the ppm threshold") {
    import spark.implicits._
    import graft.analysis.Multimodal
    // doc 1 is <= 64 chars: caption == content, cosine exactly 1
    // doc 2 is longer: caption is a strict prefix, cosine < 1 (md5 avalanche)
    val docs = Seq(
      (1L, "short aligned doc", "web"),
      (2L, ("x" * 60) + " tail content far beyond the caption window " + ("y" * 40), "web")
    ).toDF("doc_id", "text", "source")
    val out = Multimodal.clipScoreFilter(docs).orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("clip_ppm") === 1000000L)
    assert(out(0).getAs[Boolean]("kept"))
    val p2 = out(1).getAs[Long]("clip_ppm")
    assert(p2 > 0L && p2 < 1000000L)
    assert(out(1).getAs[Boolean]("kept") === (p2 >= 750000L))
    // threshold is honored exactly (integer compare, no float epsilon)
    val strict = Multimodal.clipScoreFilter(docs, thresholdPpm = 1000000L)
      .orderBy("doc_id").collect()
    assert(strict(0).getAs[Boolean]("kept") && !strict(1).getAs[Boolean]("kept"))
  }

  test("multimodal frame sampling: strided chunks with correct bytes") {
    val docs = Seq((1L, "abcdefghij" * 10)).toDF("doc_id", "text") // 100 bytes
    val media = graft.analysis.Multimodal.attachBinary(docs)
    val frames = graft.analysis.Multimodal.sampleFrames(media, chunkBytes = 16, stride = 2)
      .orderBy("frame_idx").collect()
    // 100 bytes → 7 chunks (0..6), stride 2 → indices 0,2,4,6
    assert(frames.map(_.getAs[Int]("frame_idx")).toSeq === Seq(0, 2, 4, 6))
    val first = new String(frames.head.getAs[Array[Byte]]("frame"), "UTF-8")
    assert(first === "abcdefghijabcdef")
    // final partial chunk keeps the tail bytes only
    assert(frames.last.getAs[Array[Byte]]("frame").length === 4)
  }

  test("top-k else OTHER: tail folds, totals conserved, ties deterministic") {
    import graft.relational.Relational
    val rows = (Seq.fill(30)("a") ++ Seq.fill(20)("b") ++ Seq.fill(20)("c") ++
      Seq.fill(5)("d") ++ Seq.fill(3)("e") ++ Seq.fill(2)("f"))
      .map(Tuple1(_)).toDF("g")
    val out = Relational.topKElseOther(rows, "g", count(lit(1)), k = 3)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // tie between b and c at 20: both beat the k=3 cut? no - k=3 keeps a,b,c
    assert(out("a") === ((30L, 1L)) && out("b") === ((20L, 1L)) && out("c") === ((20L, 1L)))
    assert(out("OTHER") === ((10L, 3L))) // d+e+f, 3 folded groups
    assert(out.values.map(_._1).sum === 80L) // mass conserved
  }

  test("two-pass exact quantile matches the rank definition, incl. edge cases") {
    import graft.relational.Relational
    val df = (1 to 1000).map(i => Tuple1(i.toDouble)).toDF("x")
    def q(p: Double) = Relational.exactQuantileTwoPass(df, "x", p, bins = 16)
      .collect().head.getDouble(2)
    assert(q(0.5) === 500.0)   // ceil(0.5*1000) = 500th smallest
    assert(q(0.001) === 1.0)
    assert(q(1.0) === 1000.0)
    // all-equal values: the degenerate one-bucket fallback still answers
    val flat = (1 to 50).map(_ => Tuple1(7.0)).toDF("x")
    assert(Relational.exactQuantileTwoPass(flat, "x", 0.5, bins = 16)
      .collect().head.getDouble(2) === 7.0)
    // skewed: heavy duplicate mass in one bucket
    val skew = ((1 to 900).map(_ => 1.0) ++ (1 to 100).map(i => i * 10.0))
      .map(Tuple1(_)).toDF("x")
    assert(Relational.exactQuantileTwoPass(skew, "x", 0.5, bins = 16)
      .collect().head.getDouble(2) === 1.0)
    // empty and all-null columns: no rows out, no NPE on the null min/max
    assert(Relational.exactQuantileTwoPass(df.filter(col("x") < 0), "x", 0.5).count() === 0)
    val nulls = Seq[Option[Double]](None, None).map(Tuple1(_)).toDF("x")
    assert(Relational.exactQuantileTwoPass(nulls, "x", 0.5).count() === 0)
  }

  test("exact quantile refinement bounds the final sort when one bucket holds >90% of rows") {
    import graft.relational.Relational
    // 9500 of 10000 rows crowd into bin 0 of the level-0 histogram
    // ([0, 62.5) at bins=16 over [0, 1000]); a single-level implementation
    // would CollectLimit-sort ~95% of the column here
    val skew = ((1 to 9500).map(i => i * 0.9 / 9500.0) ++
      (1 to 500).map(i => i * 2.0)).map(Tuple1(_)).toDF("x")
    val Some((value, n, levels, sortRows)) =
      Relational.exactQuantileProbe(skew, "x", 0.5, bins = 16)
    assert(n === 10000L)
    val expect = skew.collect().map(_.getDouble(0)).sorted.apply(4999) // k=5000, 0-idx
    assert(value === expect)
    assert(levels >= 2, s"expected a second refinement level, got $levels")
    // the refined bucket, not the 9500-row level-0 bucket, feeds the sort
    assert(sortRows > 0 && sortRows <= 9500 / 16 * 8,
      s"final sort saw $sortRows rows — refinement did not bound it")
    // >90% of rows sharing ONE value: the single-valued-bucket short-circuit
    // answers with no sort at all
    val oneVal = ((1 to 9500).map(_ => 42.0) ++ (1 to 500).map(i => i * 2.0))
      .map(Tuple1(_)).toDF("x")
    val Some((v2, _, _, sr2)) = Relational.exactQuantileProbe(oneVal, "x", 0.5, bins = 16)
    assert(v2 === 42.0 && sr2 === 0L)
  }

  test("passage chunking: overlapping windows, short tail, empty doc drops") {
    import graft.analysis.CorpusPrep
    val docs = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"),
      (2L, "")
    ).toDF("doc_id", "text")
    val out = CorpusPrep.chunkPassages(docs, windowTokens = 4, strideTokens = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> ((r.getInt(2), r.getString(3))))
      .toMap
    assert(out((1L, 0)) === ((4, "t1 t2 t3 t4")))
    assert(out((1L, 1)) === ((4, "t4 t5 t6 t7")))   // 1-token overlap
    assert(out((1L, 2)) === ((4, "t7 t8 t9 t10")))
    assert(out((1L, 3)) === ((1, "t10")))           // short tail window
    assert(out.size === 4)                          // empty doc: no passages
  }

  test("subsample CI: band brackets the mean, deterministic replay") {
    import graft.analysis.Stats
    val df = (1 to 2000).map(i => (i.toLong, 100.0 + (i % 50))).toDF("id", "v")
    val out = Stats.subsampleCI(df, "id", "v").collect().head
    val (n, mean, lo, hi) = (out.getLong(0), out.getDouble(1), out.getDouble(2), out.getDouble(3))
    assert(n === 2000L)
    assert(lo < hi && lo <= mean && mean <= hi)
    assert(math.abs(mean - 124.5) < 1e-6) // 100 + avg(0..49) = 100 + 24.5
    val again = Stats.subsampleCI(df, "id", "v").collect().head
    assert(again.toSeq === out.toSeq)
  }

  test("chunk-overlap media near-dups: identical media 1.0, df cutoff only lowers") {
    import graft.analysis.Multimodal
    val base = ("x" * 64) + ("y" * 64) * 4 + ("z" * 64) * 4  // chunks 0,4,8 sampled
    val docs = Seq(
      (1L, base), (2L, base),                      // identical -> jaccard 1.0
      (3L, ("q" * 64) + ("y" * 64) * 4 + ("w" * 64) * 4) // shares chunk 4 ("y"*64)
    ).toDF("doc_id", "text")
    val out = Multimodal.chunkOverlapPairs(docs, minJaccard = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out((1L, 2L)) === ((3L, 1.0)))
    assert(out((1L, 3L))._2 < 1.0 && out((1L, 3L))._1 === 1L)
    // a df cutoff drops the chunk shared by all three docs -> estimate can
    // only fall (biased LOW, same semantics as the shingle cutoff)
    val cut = Multimodal.chunkOverlapPairs(docs, minJaccard = 0.0, maxChunkDf = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    cut.foreach { case (k, j) => assert(j <= out.get(k).map(_._2).getOrElse(1.0)) }
    assert(!cut.contains((1L, 3L))) // their only shared chunk had df 3 > 2
  }

  test("grouped exact quantile: per-group medians, all-equal group, matches global on one group") {
    import graft.relational.Relational
    val df = ((1 to 100).map(i => ("a", i.toDouble)) ++
      (1 to 10).map(i => ("b", i * 10.0)) ++
      (1 to 7).map(_ => ("c", 42.0))).toDF("g", "x")
    val out = Relational.groupedExactQuantile(df, "g", "x", q = 0.5, bins = 8)
      .collect().map(r => r.getString(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out("a") === ((100L, 50.0)))  // ceil(.5*100)=50th smallest
    assert(out("b") === ((10L, 50.0)))   // 5th of 10,20,...,100
    assert(out("c") === ((7L, 42.0)))    // all-equal group
    // law: each group's answer equals the single-column two-pass answer
    (Seq("a", "b", "c")).foreach { g =>
      val solo = Relational.exactQuantileTwoPass(
        df.filter(col("g") === g), "x", 0.5, bins = 8).collect().head.getDouble(2)
      assert(out(g)._2 === solo, s"group $g diverged from the global operator")
    }
  }

  test("bpe merge candidates: frequency-weighted pair counts from the vocab") {
    import graft.analysis.TextAnalysis
    val docs = Seq(
      (1L, "aba aba cd"), (2L, "aba x")   // vocab: aba(3), cd(1), x(1)
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bpeMergeCandidates(docs, k = 10).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // aba -> pairs ab, ba (1 word each, weight 3); cd -> cd (weight 1);
    // single-char x contributes nothing
    assert(out === Map("ab" -> ((1L, 3L)), "ba" -> ((1L, 3L)), "cd" -> ((1L, 1L))))
  }

  test("perceptual near-dups: decode stub tokenizes like the engine, bands find pairs") {
    import graft.analysis.Multimodal
    val docs = Seq(
      (1L, "The Quick! brown fox jumps over the lazy dog again and again"),
      (2L, "The Quick! brown fox jumps over the lazy dog again and AGAIN"), // case-only diff
      (3L, "an entirely different document about catalyst plan rewrites"),
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    // decoded tokens must equal the Column-side normalization exactly
    val fromBinary = Multimodal.decodeFeatures(
        Multimodal.attachBinary(docs).as[Multimodal.MediaRecord])
      .collect().map(m => m.doc_id -> m.tokens.toSeq).toMap
    val fromText = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), graft.analysis.TextAnalysis.tokens(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(fromBinary === fromText)
    assert(!fromBinary.contains(4L)) // null media -> no feature row
    val pairs = Multimodal.perceptualNearDupPairs(docs, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq === Seq((1L, 2L, 0))) // identical after normalization
  }

  private def t(s: String) = Timestamp.valueOf(s)

  test("batch sessionization: gaps split sessions, bounds and counts correct") {
    val clicks = Seq(
      ("u1", t("2026-01-01 10:00:00")),
      ("u1", t("2026-01-01 10:10:00")),   // same session (10 min gap)
      ("u1", t("2026-01-01 11:30:00")),   // > 30 min gap → new session
      ("u2", t("2026-01-01 09:00:00"))
    ).toDF("user_id", "event_ts")
    val out = Sessionize.sessionizeBatch(clicks, gapSeconds = 1800)
      .orderBy("user_id", "session_idx").collect()
    assert(out.length === 3)
    assert(out(0).getAs[Long]("n_events") === 2)
    assert(out(0).getAs[Timestamp]("session_end") === t("2026-01-01 10:10:00"))
    assert(out(1).getAs[Long]("n_events") === 1)
    assert(out(2).getAs[String]("user_id") === "u2")
  }

  test("transition matrix: per-key lag pairs, session boundaries never bridge") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val events = Seq(
      (1L, "s1", "view", ts("2026-01-01 10:00:00")),
      (2L, "s1", "click", ts("2026-01-01 10:01:00")),
      (3L, "s1", "click", ts("2026-01-01 10:02:00")),
      // s2 starts with purchase — no (click, purchase) pair across sessions
      (4L, "s2", "purchase", ts("2026-01-01 10:03:00")),
      (5L, "s2", "view", ts("2026-01-01 10:04:00"))
    ).toDF("event_id", "session_id", "event_type", "event_ts")
    val out = graft.relational.Relational.transitionMatrix(events)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out === Map(
      ("view", "click") -> 1L, ("click", "click") -> 1L, ("purchase", "view") -> 1L))
  }

  test("equi-width histogram: fixed edges, max clamps into top bin, empty bins surface") {
    val df = Seq(0.0, 0.5, 1.0, 9.5, 10.0).toDF("v")
    val out = graft.relational.Relational.equiWidthHistogram(df, "v", bins = 5)
      .collect().map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2), r.getLong(3)))).toMap
    // width 2: bin1 [0,2) holds 0, 0.5, 1; bins 2-4 empty but present; bin5 holds 9.5 and the max
    assert(out(1) === ((0.0, 2.0, 3L)))
    assert(out(2) === ((2.0, 4.0, 0L)) && out(3) === ((4.0, 6.0, 0L)) && out(4) === ((6.0, 8.0, 0L)))
    assert(out(5) === ((8.0, 10.0, 2L)))
    // nulls are excluded, not silently clamped into the top bin
    val withNulls = Seq(Some(1.0), Some(9.0), None).toDF("v")
    val nOut = graft.relational.Relational.equiWidthHistogram(withNulls, "v", bins = 2)
      .collect().map(r => r.getInt(0) -> r.getLong(3)).toMap
    assert(nOut === Map(1 -> 1L, 2 -> 1L))
    // all-equal values degenerate to one bin, no division blowup
    val flat = Seq(5.0, 5.0, 5.0).toDF("v")
    val fOut = graft.relational.Relational.equiWidthHistogram(flat, "v", bins = 4)
      .collect().map(r => r.getInt(0) -> r.getLong(3)).toMap
    assert(fOut(1) === 3L && (2 to 4).forall(fOut(_) === 0L))
  }

  test("top session paths: ordered prefixes, maxSteps truncation, count-desc ranking") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val events = Seq(
      (1L, "s1", "view", ts("2026-01-01 10:00:00")),
      (2L, "s1", "click", ts("2026-01-01 10:01:00")),
      (3L, "s2", "view", ts("2026-01-01 10:00:00")),
      (4L, "s2", "click", ts("2026-01-01 10:01:00")),
      (5L, "s2", "purchase", ts("2026-01-01 10:02:00")), // truncated at maxSteps=2
      (6L, "s3", "error", ts("2026-01-01 10:00:00"))
    ).toDF("event_id", "session_id", "event_type", "event_ts")
    val out = graft.relational.Relational.topSessionPaths(events, maxSteps = 2, k = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    // two sessions share the truncated "view>click" prefix; ranked first
    assert(out.head === ("view>click" -> 2L))
    assert(out.toMap === Map("view>click" -> 2L, "error" -> 1L))
    // a null type renders as "(null)" — it must NOT collapse into the
    // null-free path concat_ws would silently produce
    val withNull = Seq(
      (1L, "s1", Some("view"), ts("2026-01-01 10:00:00")),
      (2L, "s1", None: Option[String], ts("2026-01-01 10:01:00")),
      (3L, "s1", Some("click"), ts("2026-01-01 10:02:00"))
    ).toDF("event_id", "session_id", "event_type", "event_ts")
    val nPaths = graft.relational.Relational.topSessionPaths(withNull, maxSteps = 5, k = 10)
      .collect().map(_.getString(0)).toSet
    assert(nPaths === Set("view>(null)>click"))
  }

  test("k-anonymity audit: small class k-risky, homogeneous sensitive value l-risky") {
    import org.apache.spark.sql.functions.col
    val rows = Seq(
      // class (a, 1): 3 members, 3 distinct sensitive -> k-risky only (k=5)
      ("a", 1, 101L), ("a", 1, 102L), ("a", 1, 103L),
      // class (b, 2): 6 members but every sensitive value identical -> l-risky only
      ("b", 2, 200L), ("b", 2, 200L), ("b", 2, 200L),
      ("b", 2, 200L), ("b", 2, 200L), ("b", 2, 200L),
      // class (c, 3): 5 members, 3 distinct -> clean
      ("c", 3, 301L), ("c", 3, 302L), ("c", 3, 303L), ("c", 3, 301L), ("c", 3, 302L)
    ).toDF("typ", "band", "uid")
    val out = graft.analysis.Profiling.kAnonymityAudit(rows,
        quasiIds = Seq(("typ", col("typ")), ("band", col("band"))),
        sensitive = col("uid"), k = 5, l = 3)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3), r.getBoolean(4), r.getBoolean(5))))
      .toMap
    assert(out("a") === ((3L, 3L, true, false)))
    assert(out("b") === ((6L, 1L, false, true)))
    assert(out("c") === ((5L, 3L, false, false)))
  }

  test("sequence packing: hand-computed occupancy histogram; empty docs occupy no window") {
    // ctx=4, token stream a b c | d e | f g h i j (starts 0, 3, 5):
    //  w0 = [a b c d]  docs {1 start, 2 start}  -> n_docs 2, starts 2, split 1 (doc 2)
    //  w1 = [e f g h]  docs {2 cont, 3 start}   -> n_docs 2, starts 1, split 2
    //  w2 = [i j]      docs {3 cont}            -> n_docs 1, starts 0, split 1
    val docs = Seq((1L, "a b c"), (2L, "d e"), (3L, "f g h i j"), (4L, ""))
      .toDF("doc_id", "text")
    val out = graft.analysis.CorpusPrep.sequencePack(docs, ctxTokens = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq((1L, 1L, 0L, 1L), (2L, 2L, 3L, 3L)))
  }

  test("sequence packing increment law: doc-range artifacts merged by window addition equal the rebuild") {
    val docs = Seq((1L, "a b c"), (2L, "d e"), (3L, "f g h i j"))
      .toDF("doc_id", "text")
    val old = docs.filter(col("doc_id") <= 2)
    val fresh = docs.filter(col("doc_id") > 2)
    val off = Seq(5L).toDF("tok_offset") // old batch's token total
    val merged = graft.analysis.CorpusPrep.packReportFromSlots(
        graft.analysis.CorpusPrep.packMergeSlots(
          graft.analysis.CorpusPrep.packSlots(old, ctxTokens = 4),
          graft.analysis.CorpusPrep.packSlots(fresh, ctxTokens = 4,
            tokenOffset = Some(off))))
      .collect().map(_.toSeq)
    val rebuilt = graft.analysis.CorpusPrep.sequencePack(docs, ctxTokens = 4)
      .collect().map(_.toSeq)
    // the seam window w1 carries doc 2's tail from the old artifact AND
    // doc 3's start from the fresh one — addition is exact there
    assert(merged.toSeq === rebuilt.toSeq)
  }

  test("sequence pack curve: one cumsum, each ctx re-buckets the same spans") {
    val docs = Seq((1L, "a b c"), (2L, "d e"), (3L, "f g h i j"))
      .toDF("doc_id", "text")
    val out = graft.analysis.CorpusPrep.sequencePackCurve(docs, ctxs = Seq(4, 16))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq === Seq(
      (4L, 1L, 1L, 0L, 1L), (4L, 2L, 2L, 3L, 3L), // the q256 fixture
      (16L, 3L, 1L, 3L, 0L))) // everything fits one window, no splits
  }

  test("per-source sequence packing: each group packs its own windows from token zero") {
    // source A streams a b c | f g h i j (starts 0, 3; ctx 4):
    //   w0 {1 start, 3 start} -> (2 docs, 2 starts, 1 split)
    //   w1 {3 cont}           -> (1 doc, 0 starts, 1 split)
    // source B streams d e alone -> w0 (1 doc, 1 start, 0 split)
    val docs = Seq(
      (1L, "A", "a b c"), (2L, "B", "d e"), (3L, "A", "f g h i j"))
      .toDF("doc_id", "source", "text")
    val out = graft.analysis.CorpusPrep.sequencePackByGroup(docs, ctxTokens = 4)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq === Seq(
      ("A", 1L, 1L, 0L, 1L), ("A", 2L, 1L, 2L, 1L), ("B", 1L, 1L, 1L, 0L)))
  }
}
