package graft

import org.apache.spark.sql.functions._

import graft.analysis.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)),   // close to 0
    (2L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal to 0
    (3L, Array(-1.0f, 0.0f, 0.0f)),  // opposite of 0
    (4L, Array(0.5f, 0.5f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("cosine expression matches hand computation") {
    val c = spark.range(1).select(
      Similarity.cosine(
        array(lit(1.0f), lit(2.0f), lit(3.0f)),
        array(lit(4.0f), lit(5.0f), lit(6.0f))).as("c"))
      .collect().head.getDouble(0)
    val expected = 32.0 / (math.sqrt(14.0) * math.sqrt(77.0))
    assert(math.abs(c - expected) < 1e-12)
  }

  test("brute-force knn ranks by cosine with deterministic ties") {
    val out = Similarity.knnBruteForce(vecs, vecs.filter(col("vec_id") === 0), k = 3)
      .orderBy("rank").collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq === Seq(1L, 4L, 2L))
    assert(out.map(_.getAs[Int]("rank")).toSeq === Seq(1, 2, 3))
    assert(out.head.getAs[Double]("cosine") > 0.99)
  }

  test("ivf knn with full probing equals brute force (exactness at nProbe=nCells)") {
    val out = Similarity.knnIvf(vecs, vecs.filter(col("vec_id") === 0),
        k = 3, nCells = 2, nProbe = 2)
      .orderBy("rank").collect()
    val exact = Similarity.knnBruteForce(vecs, vecs.filter(col("vec_id") === 0), k = 3)
      .orderBy("rank").collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq ===
      exact.map(_.getAs[Long]("neighbor_id")).toSeq)
  }

  test("deterministic ivf: full probing equals brute force, partial probing is a ranked subset") {
    val q = vecs.filter(col("vec_id") === 0)
    val full = Similarity.knnIvfDeterministic(vecs, q, k = 3, nCells = 2, nProbe = 2)
      .orderBy("rank").collect()
    val exact = Similarity.knnBruteForce(vecs, q, k = 3).orderBy("rank").collect()
    assert(full.map(_.toSeq).toSeq === exact.map(_.toSeq).toSeq)
    // nProbe < nCells: every returned neighbor keeps its exact cosine and
    // ranks are dense from 1 with descending cosine (the probe only prunes
    // candidates, never rescores)
    val part = Similarity.knnIvfDeterministic(vecs, q, k = 3, nCells = 2, nProbe = 1)
      .orderBy("rank").collect()
    assert(part.nonEmpty && part.length <= full.length)
    val exactCos = exact.map(r =>
      r.getAs[Long]("neighbor_id") -> r.getAs[Double]("cosine")).toMap
    part.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Int]("rank") === i + 1)
      val nid = r.getAs[Long]("neighbor_id")
      // any neighbor also in the exact top-k carries the identical score
      exactCos.get(nid).foreach(c => assert(r.getAs[Double]("cosine") === c))
    }
    // deterministic across invocations (no RNG anywhere in the path)
    val part2 = Similarity.knnIvfDeterministic(vecs, q, k = 3, nCells = 2, nProbe = 1)
      .orderBy("rank").collect()
    assert(part.map(_.toSeq).toSeq === part2.map(_.toSeq).toSeq)
  }

  test("density clusters: star core/border, isolated pair and singleton are noise") {
    import graft.analysis.Similarity
    val c15 = math.cos(math.toRadians(15)).toFloat
    val s15 = math.sin(math.toRadians(15)).toFloat
    val pts = Seq(
      (1L, Array(1.0f, 0.0f)),    // center: pairs with 2 and 3 -> deg 2 -> core
      (2L, Array(c15, s15)),      // leaf: pairs only with 1 -> border
      (3L, Array(c15, -s15)),     // leaf: pairs only with 1 -> border
      (5L, Array(0.0f, 1.0f)),    // no pairs -> noise
      (6L, Array(-1.0f, 0.02f)),  // mutual pair 6-7, but neither is core:
      (7L, Array(-1.0f, -0.02f))  //   a lone pair is noise, not a cluster
    ).toDF("vec_id", "embedding")
    val out = Similarity.densityClusters(pts, _ => lit(0L), minCosine = 0.95, minPts = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    assert(out(1L) === (("core", 1L)))
    assert(out(2L) === (("border", 1L)) && out(3L) === (("border", 1L)))
    assert(out(5L) === (("noise", -1L)))
    assert(out(6L) === (("noise", -1L)) && out(7L) === (("noise", -1L)))
  }

  test("axis-sign signature: bit j mirrors sign of component j") {
    val sig = vecs.orderBy("vec_id")
      .select(Similarity.axisSignSignature(col("embedding"), 3).as("b"))
      .collect().map(_.getLong(0))
    // bit j is set iff component j ≥ 0, so zero components count as positive
    assert(sig(0) === 7L)  // (1, 0, 0)  → all non-negative
    assert(sig(1) === 7L)  // (0.9, 0.1, 0) co-buckets with vec 0
    assert(sig(3) === 6L)  // (-1, 0, 0) → bit 0 clear
    assert(sig(0) !== sig(3))
  }

  test("knnLshWith degenerate single bucket equals brute force (injectable path)") {
    val q = vecs.filter(col("vec_id") === 0)
    val lsh = Similarity.knnLshWith(vecs, q, _ => lit(0L), k = 3)
      .orderBy("rank").collect()
    val exact = Similarity.knnBruteForce(vecs, q, k = 3).orderBy("rank").collect()
    assert(lsh.map(_.toSeq).toSeq === exact.map(_.toSeq).toSeq)
  }

  test("embeddingNearDupPairsWith degenerate single bucket equals exact pairs") {
    val bucketed = Similarity.embeddingNearDupPairsWith(vecs, _ => lit(0L), minCosine = 0.4)
      .orderBy("doc_a", "doc_b").collect()
    val exact = Similarity.embeddingNearDupPairsExact(vecs, minCosine = 0.4)
      .orderBy("doc_a", "doc_b").collect()
    assert(bucketed.map(_.toSeq).toSeq === exact.map(_.toSeq).toSeq)
    assert(bucketed.nonEmpty)
  }

  test("semDedup with k=1 degenerates to the exact pairwise min-id rule") {
    val out = Similarity.semDedup(vecs, k = 1, iterations = 1, minCosine = 0.4)
      .orderBy("vec_id").collect()
    val exact = Similarity.embeddingNearDupPairsExact(vecs, minCosine = 0.4)
      .groupBy(col("doc_b").as("vec_id")).agg(min("doc_a").as("dup_of"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.length === 5)
    out.foreach { r =>
      val id = r.getAs[Long]("vec_id")
      exact.get(id) match {
        case Some(a) =>
          assert(r.getAs[Long]("dup_of") === a && !r.getAs[Boolean]("keep"))
        case None =>
          assert(r.isNullAt(r.fieldIndex("dup_of")) && r.getAs[Boolean]("keep"))
      }
    }
    assert(exact.nonEmpty && exact.size < 5) // both branches exercised
  }

  test("semDedup scores pairs only inside a cell; one survivor per dup set") {
    // two natural clusters with the two lowest ids in DIFFERENT clusters, so
    // the deterministic seeds separate them on round 1: cell{0,2,4}, cell{1,3}
    val pts = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f)),
      (3L, Array(0.1f, 0.95f, 0.0f)),
      (4L, Array(0.95f, 0.05f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.semDedup(pts, k = 2, iterations = 1, minCosine = 0.95)
      .orderBy("vec_id").collect()
    val keep = out.filter(_.getAs[Boolean]("keep")).map(_.getAs[Long]("vec_id")).toSet
    assert(keep === Set(0L, 1L))
    val dupOf = out.filterNot(_.getAs[Boolean]("keep"))
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("dup_of")).toMap
    assert(dupOf === Map(2L -> 0L, 4L -> 0L, 3L -> 1L))
    // in-cell bounding: dup_of always lands in the same cell
    val cellOf = out.map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cluster")).toMap
    dupOf.foreach { case (b, a) => assert(cellOf(b) === cellOf(a)) }
  }

  test("semDedup increment: frozen cells, corpus verdicts stable, batch judged vs pool") {
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(0.95f, 0.05f)), (3L, Array(0.05f, 0.95f))
    ).toDF("vec_id", "embedding")
    val batch = Seq(
      (10L, Array(0.98f, 0.02f)),   // lands in cell of 0/2: dup of 0
      (11L, Array(-1.0f, 0.0f))     // anti-parallel to everything: survives
    ).toDF("vec_id", "embedding")
    val out = Similarity.semDedupIncrement(corpus, batch,
        k = 2, iterations = 1, minCosine = 0.4)
      .orderBy("vec_id").collect()
    assert(out.length === 6)
    val m = out.map(r => r.getAs[Long]("vec_id") ->
      ((r.getAs[Boolean]("keep"), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    assert(m(10L) === ((false, 0L)))  // min-id pool neighbor, not 2
    assert(m(11L) === ((true, -1L)))
    // stability: ingesting the batch never rewrites a corpus verdict —
    // batch ids are larger, so they cannot become anyone's min-id dup_of
    val prior = Similarity.semDedupIncrement(corpus, batch.limit(0),
        k = 2, iterations = 1, minCosine = 0.4)
      .orderBy("vec_id").collect()
    assert(out.filter(_.getAs[Long]("vec_id") <= 3L).map(_.toSeq).toSeq
      === prior.map(_.toSeq).toSeq)
    // the stability precondition is ENFORCED, not just documented: a batch
    // id at or below the corpus max would invalidate stored verdicts
    val badBatch = Seq((2L, Array(0.98f, 0.02f))).toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      Similarity.semDedupIncrement(corpus, badBatch,
        k = 2, iterations = 1, minCosine = 0.4)
    }
    assert(ex.getMessage.contains("precondition"))
  }

  test("random projection: basis columns have exact unit norm and the map is linear") {
    import spark.implicits._
    def basis(j: Int) = Array.tabulate(64)(i => if (i == j) 1.0f else 0.0f)
    val vecs = Seq(
      (0L, basis(0)), (1L, basis(17)), (2L, basis(63)),
      (3L, Array.tabulate(64)(i => (math.sin(i + 1) / 4).toFloat)),
      (4L, Array.tabulate(64)(i => (math.cos(2 * i + 1) / 4).toFloat))
    ).toDF("vec_id", "embedding")
    val out = Similarity.randomProjection(vecs)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    def proj(id: Long) = (0 until 16).map(p => out((id, p)))
    // ±1/√16 entries: a standard-basis input projects to 16 components of
    // exactly ±0.25 — squared norm 16·(1/16) = 1, EXACTLY
    Seq(0L, 1L, 2L).foreach { id =>
      val v = proj(id)
      assert(v.forall(x => math.abs(math.abs(x) - 0.25) < 1e-9))
      assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-9)
    }
    // linearity: P(a + b) = P(a) + P(b) — verify on the two dense vectors
    val a = proj(3L); val b = proj(4L)
    val ab = Similarity.randomProjection(
        Seq((9L, Array.tabulate(64)(i =>
          (math.sin(i + 1) / 4 + math.cos(2 * i + 1) / 4).toFloat)))
          .toDF("vec_id", "embedding"))
      .collect().map(r => r.getInt(1) -> r.getDouble(2)).toMap
    (0 until 16).foreach { p =>
      assert(math.abs(ab(p) - (a(p) + b(p))) < 2e-6) // float input + 6dp round
    }
  }

  test("axisSignBitsFor: occupancy-constant widths, capped at dim and 62") {
    assert(Similarity.axisSignBitsFor(2000) === 6)   // sf0.1: 62.5/bucket target
    assert(Similarity.axisSignBitsFor(20000) === 10) // 10×
    assert(Similarity.axisSignBitsFor(60000) === 11) // 30× (PLANS.md §30×)
    assert(Similarity.axisSignBitsFor(10) === 1)     // floor at 1 bit
    assert(Similarity.axisSignBitsFor(Long.MaxValue / 2, dim = 8) === 8)
    assert(Similarity.axisSignBitsFor(Long.MaxValue / 2) === 57)
    assert(Similarity.axisSignBitsFor(Long.MaxValue / 2,
      targetOccupancy = 1, dim = 128) === 62) // long-bucket cap
  }

  test("pq adc: separated clusters rank own-cluster first; output deterministic") {
    // 4-dim, m=2 subspaces: cluster A near (1,0,1,0), B near (-1,0,-1,0);
    // seeds (first 2 by id) are 0∈A and 1∈B, so Lloyd separates immediately
    val vecs = Seq(
      (0L, Array(1.0f, 0.05f, 1.0f, 0.0f)), // query, in A
      (1L, Array(-1.0f, 0.05f, -1.0f, 0.0f)),
      (2L, Array(0.9f, 0.0f, 1.1f, 0.05f)),
      (3L, Array(1.1f, -0.05f, 0.95f, 0.0f)),
      (4L, Array(-0.9f, 0.0f, -1.1f, 0.05f)),
      (5L, Array(-1.05f, 0.0f, -0.95f, -0.05f))
    ).toDF("vec_id", "embedding")
    val q = vecs.filter($"vec_id" === 0L)
    val out = Similarity.knnPqAdc(vecs, q, m = 2, codes = 2, iterations = 2, topK = 5)
      .orderBy("rank").collect()
    assert(out.length === 5)
    // both A members precede every B member under the quantized metric
    assert(out.take(2).map(_.getLong(1)).toSet === Set(2L, 3L))
    val d = out.map(_.getDouble(2))
    assert(d.toSeq === d.sorted.toSeq)
    val again = Similarity.knnPqAdc(vecs, q, m = 2, codes = 2, iterations = 2, topK = 5)
      .orderBy("rank").collect()
    assert(again.map(_.toSeq).toSeq === out.map(_.toSeq).toSeq)
    // members of the same PQ cell as the query share one ADC distance —
    // the quantized metric cannot distinguish within a cell
    assert(d(0) === d(1))
  }

  test("matryoshka recall: full-width prefix is recall 1, a 1-dim prefix that ties loses the neighbor") {
    import spark.implicits._
    // query v0 = (1, 0). Full-cosine top-1 is v2 (exactly collinear).
    // At d=1 every candidate has cosine 1 (all x > 0), so the
    // deterministic id tie-break picks v1 -> overlap 0 at d=1, 1 at d=2.
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.1f, 0.99f)),
      (2L, Array(0.9f, 0.0f)),
      (3L, Array(0.5f, 0.5f))
    ).toDF("vec_id", "embedding")
    val out = graft.analysis.Similarity.matryoshkaRecall(
        emb, col("vec_id") === 0, dims = Seq(1, 2), k = 1)
      .collect().map(r => r.getAs[Int]("dim") ->
        ((r.getAs[Long]("n_common"), r.getAs[Long]("recall_ppm")))).toMap
    assert(out(1) === ((0L, 0L)))
    assert(out(2) === ((1L, 1000000L)))
  }

  test("axisSignBitsFor agrees with the oracle's integer bit-length derivation across six decades") {
    // the q243 oracle derives the adaptive width as
    // min(len(bin(ceil(n/32)-1)), 62) — pure integer arithmetic; the Scala
    // side uses ceil(log2(n/32)). This pins their agreement, including at
    // every power-of-two boundary where a log could ulp-flip.
    def oracleBits(n: Long): Int = {
      val cdivM1 = (n + 31) / 32 - 1
      val binLen =
        if (cdivM1 == 0) 1 else 64 - java.lang.Long.numberOfLeadingZeros(cdivM1)
      math.min(binLen, 62)
    }
    val ns = (0 to 40).map(k => 1L << k).flatMap(v => Seq(v - 1, v, v + 1))
      .filter(_ > 0) ++ Seq(500L, 6000L, 60000L, 600000L, 1000000000L)
    ns.foreach { n =>
      assert(graft.analysis.Similarity.axisSignBitsFor(n) === oracleBits(n), s"n=$n")
    }
  }

  test("lof: tight-cluster points score ~1, the far point scores >> 1, symmetry exact") {
    import spark.implicits._
    // unit square cluster + one point far away; k=2
    val emb = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(1.0f, 0.0f)), (3L, Array(1.0f, 1.0f)),
      (9L, Array(10.0f, 10.0f))
    ).toDF("vec_id", "embedding")
    val out = graft.analysis.Similarity.lofOutliers(emb, k = 2)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("lof_ppm")).toMap
    assert(out(9L) > 2000000L, s"outlier lof ${out(9L)} should exceed 2.0")
    Seq(0L, 1L, 2L, 3L).foreach { id =>
      assert(out(id) >= 800000L && out(id) <= 1400000L,
        s"cluster point $id lof ${out(id)} should be near 1.0")
    }
    // the square's symmetries are exact in the integer lattice
    assert(out(0L) === out(3L) && out(1L) === out(2L))
  }

  test("lof: exact-duplicate neighborhoods degenerate to null, never divide by zero") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(0.0f, 0.0f)), (2L, Array(5.0f, 5.0f))
    ).toDF("vec_id", "embedding")
    val out = graft.analysis.Similarity.lofOutliers(emb, k = 1)
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    // the twin points have zero reach sums -> null lrd -> null lof;
    // point 2's only neighbor is a degenerate point -> null propagates
    assert(out(0L).isEmpty && out(1L).isEmpty && out(2L).isEmpty)
  }

  test("lof ivf: nCells=1 cell is exhaustive, so cell-bounded ≡ all-pairs bit-for-bit") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(1.0f, 0.0f)), (3L, Array(1.0f, 1.0f)),
      (9L, Array(10.0f, 10.0f))
    ).toDF("vec_id", "embedding")
    val exact = graft.analysis.Similarity.lofOutliers(emb, k = 2)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("lof_ppm")).toSeq
    val ivf = graft.analysis.Similarity
      .lofOutliersIvf(emb, k = 2, nCells = 1, quantizerIters = 2)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("lof_ppm")).toSeq
    assert(ivf === exact)
  }

  test("lof ivf: split cells still surface the density outlier of its own cell") {
    import spark.implicits._
    // cells are assigned on NORMALIZED vectors (direction): one tight
    // direction bundle near 0° with a same-direction far-magnitude
    // outlier, one bundle near 90°. Whatever way Lloyd splits the
    // directions, point 9 shares a cell with (a subset of) the 0° bundle
    // — its own neighborhood — and must still score as the least dense
    // point of that cell
    val emb = Seq(
      (0L, Array(10.0f, 0.0f)), (1L, Array(10.0f, 0.5f)),
      (2L, Array(10.0f, 1.0f)), (3L, Array(10.5f, 0.5f)),
      (9L, Array(100.0f, 4.0f)), // same direction, 10x the magnitude
      (10L, Array(0.0f, 10.0f)), (11L, Array(0.5f, 10.0f)),
      (12L, Array(1.0f, 10.0f)), (13L, Array(0.5f, 10.5f))
    ).toDF("vec_id", "embedding")
    val out = graft.analysis.Similarity
      .lofOutliersIvf(emb, k = 2, nCells = 2, quantizerIters = 2)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("lof_ppm")).toMap
    assert(out.contains(9L), "outlier must not be dropped by the cell split")
    val peers = Seq(0L, 1L, 2L, 3L).filter(out.contains)
    assert(peers.nonEmpty)
    peers.foreach { id =>
      assert(out(9L) > out(id),
        s"outlier lof ${out(9L)} should exceed bundle point $id's ${out(id)}")
    }
  }

  test("lof lsh: one shared bucket is exhaustive, so bucket-bounded ≡ all-pairs bit-for-bit") {
    import spark.implicits._
    // n=5 -> axisSignBitsFor gives 1 bit -> the bucket is the sign of
    // dim 1, positive for every point: one bucket holds the whole corpus
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 1.0f)),
      (2L, Array(2.0f, 0.0f)), (3L, Array(2.0f, 1.0f)),
      (9L, Array(20.0f, 20.0f))
    ).toDF("vec_id", "embedding")
    val exact = graft.analysis.Similarity.lofOutliers(emb, k = 2)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("lof_ppm")).toSeq
    val lsh = graft.analysis.Similarity.lofOutliersLsh(emb, k = 2)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("lof_ppm")).toSeq
    assert(lsh === exact)
  }

  test("lof multi-table: nTables=1 is bit-identical to the single-table path; table 0 signature matches") {
    import spark.implicits._
    val emb = (0L to 9L).map { i =>
      (i, Array.tabulate(4)(j => ((i * 7 + j * 3) % 5 - 2).toFloat))
    }.toDF("vec_id", "embedding")
    val single = graft.analysis.Similarity
      .lofOutliersLsh(emb, k = 2, dim = 4)
      .collect().map(_.toSeq).toSeq
    val multi1 = graft.analysis.Similarity
      .lofOutliersLshMulti(emb, k = 2, nTables = 1, dim = 4)
      .collect().map(_.toSeq).toSeq
    assert(multi1 === single)
    // offset-0 rotated signature IS axisSignSignature
    val a = emb.select(graft.analysis.Similarity
      .axisSignSignature(col("embedding"), 3).as("s")).collect().map(_.getLong(0))
    val b = emb.select(graft.analysis.Similarity
      .axisSignSignatureAt(col("embedding"), 3, 0, 4).as("s")).collect().map(_.getLong(0))
    assert(a.toSeq === b.toSeq)
  }

  test("lof multi-table: more tables can only grow each point's candidate set (pair superset law)") {
    import spark.implicits._
    // sign-separated bundles (the split-bucket fixture): with dim=2 and
    // nTables=2 the second table reads the OTHER dimension, so pairs
    // separated by table 0's bits can reunite via table 1
    val emb = (0L to 7L).map { i =>
      val s = if (i % 2 == 0) 1.0f else -1.0f
      (i, Array(s * (1.0f + i / 4.0f), 2.0f - i / 4.0f))
    }.toDF("vec_id", "embedding")
    def nonNull(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("lof_ppm").isNotNull).count()
    val n1 = nonNull(graft.analysis.Similarity
      .lofOutliersLshMulti(emb, k = 2, targetOccupancy = 1, nTables = 1, dim = 2))
    val n2 = nonNull(graft.analysis.Similarity
      .lofOutliersLshMulti(emb, k = 2, targetOccupancy = 1, nTables = 2, dim = 2))
    assert(n2 >= n1,
      "a second table must never shrink the scored-point set")
  }

  test("lof truncation agreement: sign-coherent clusters make bucketing LOSSLESS (total overlap at full width)") {
    import spark.implicits._
    // The q251/q253 gate corpus measures the WORST case (verified
    // near-uniform: 90% variance needs 53/64 PCA dims, cosines ~ 0).
    // This fixture pins the other end of the claim: when cluster
    // structure aligns with the hash — four clusters on distinct 3-dim
    // sign patterns, one far outlier per cluster SHARING its pattern —
    // every point's true kNN lives in its own bucket, so the bucketed
    // lattice reproduces exact LOF verdicts completely at K=4 (the four
    // outliers) and K=20.
    val signs = Seq((1, 1, 1), (1, -1, -1), (-1, 1, -1), (-1, -1, 1))
    val emb = signs.zipWithIndex.flatMap { case ((s0, s1, s2), c) =>
      val pts = (0 until 10).map { i =>
        (c * 11L + i, Array(
          s0 * (1.0f + 0.10f * i), s1 * (1.0f + 0.07f * i), s2 * (1.0f + 0.05f * i)))
      }
      pts :+ ((c * 11L + 10L, Array(s0 * 8.0f, s1 * 9.0f, s2 * 10.0f)))
    }.toDF("vec_id", "embedding")
    val out = graft.analysis.Similarity
      .lofTruncationAgreement(emb, k = 3, topKs = Seq(4, 20),
        occupancies = Seq(1), dim = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq((4L, 4L, 1000000L), (20L, 20L, 1000000L)))
  }

  test("hard negatives: nearest cross-label picked, same-label excluded, LSH single bucket ≡ exact") {
    import spark.implicits._
    // anchor 0 (label 0) sits nearest to 1 (label 0, EXCLUDED), then
    // 2 (label 1, rank-1 negative), then 3 (label 1, rank 2)
    val emb = Seq(
      (0L, Array(0.0f, 0.0f), 0L),
      (1L, Array(0.1f, 0.0f), 0L),
      (2L, Array(1.0f, 0.0f), 1L),
      (3L, Array(0.0f, 2.0f), 1L),
      (4L, Array(9.0f, 9.0f), 2L)).toDF("vec_id", "embedding", "label")
    val out = graft.analysis.Similarity.hardNegatives(emb, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val anchor0 = out.filter(_._1 == 0L).map(t => (t._2, t._3)).toSeq
    assert(anchor0 === Seq((1L, 2L), (2L, 3L)))
    assert(!out.exists(t => t._1 == 0L && t._3 == 1L)) // same label never
    // with one shared bucket (occupancy >= n) the LSH arm is the exact arm
    val exact = graft.analysis.Similarity.hardNegatives(emb, k = 2)
      .collect().map(_.toSeq)
    val lsh = graft.analysis.Similarity.hardNegativesLsh(emb, k = 2,
        targetOccupancy = 16, nTables = 1, dim = 2)
      .collect().map(_.toSeq)
    assert(lsh.toSeq === exact.toSeq)
  }

  test("hard-negative recall: one shared bucket recovers the exact arm completely") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(0.0f, 0.0f), 0L),
      (1L, Array(0.1f, 0.0f), 0L),
      (2L, Array(1.0f, 0.0f), 1L),
      (3L, Array(0.0f, 2.0f), 1L),
      (4L, Array(9.0f, 9.0f), 2L)).toDF("vec_id", "embedding", "label")
    // occupancy >= n puts everything in one bucket per table, so every
    // table count recovers 100% of the exact picks
    val out = graft.analysis.Similarity.hardNegativeRecall(emb, k = 2,
        tableCounts = Seq(1, 2), targetOccupancy = 16, dim = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length === 2)
    out.foreach { case (_, nExact, nOverlap, ppm) =>
      assert(nExact === 10L) // 5 anchors x k=2 (each has >= 2 cross-label)
      assert(nOverlap === nExact && ppm === 1000000L)
    }
  }

  test("hard-negative recall on a single-label corpus fails loudly, not NULL-rows") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(0.0f, 0.0f), 0L),
      (1L, Array(0.1f, 0.0f), 0L)).toDF("vec_id", "embedding", "label")
    val e = intercept[IllegalArgumentException] {
      graft.analysis.Similarity.hardNegativeRecall(emb, k = 2,
        tableCounts = Seq(1), targetOccupancy = 16, dim = 2).collect()
    }
    assert(e.getMessage.contains("exact arm mined no"))
  }

  test("planted clusters: sign patterns distinct per cluster, separation >> noise, LSH verdicts align") {
    import spark.implicits._
    // deterministic pseudo-noise in [-1, 1] stands in for the embeddings
    // table; 48 points, 8 clusters of 6, 16 dims
    val emb = (0L until 48L).map { id =>
      (id, Array.tabulate(16)(j => (((id * 31 + j * 17) % 19).toFloat - 9f) / 9f))
    }.toDF("vec_id", "embedding")
    val planted = graft.analysis.Similarity.plantedClusters(emb, blockDims = 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    // leading dims carry the cluster's 3-bit sign pattern with |v| >= 3.875
    (0L until 48L).foreach { id =>
      val c = id % 8
      val v = planted(id)
      (0 until 8).foreach { j =>
        val expected = if ((c & (1L << (j % 3))) > 0) 1 else -1
        assert(math.signum(v(j)) === expected.toFloat, s"id=$id dim=$j")
        assert(math.abs(v(j)) >= 3.875f && math.abs(v(j)) <= 4.125f)
      }
      (8 until 16).foreach(j => assert(math.abs(v(j)) <= 0.125f))
    }
    // within-cluster distance << cross-cluster (>= one sign flip ~ 8)
    def d(a: Array[Float], b: Array[Float]) =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    val same = d(planted(0L), planted(8L))   // both cluster 0
    val cross = d(planted(0L), planted(1L))  // clusters 0 vs 1
    assert(same < 2.0 && cross > 7.0, s"same=$same cross=$cross")
    // and the quality sweep on the planted corpus reports substantial
    // top-K agreement (the whole point of the fixture): at least half
    // the exact top-10 verdicts survive bucketing at every occupancy
    val sweep = graft.analysis.Similarity.lofTruncationAgreement(
        graft.analysis.Similarity.plantedClusters(emb, blockDims = 8),
        k = 3, topKs = Seq(10), occupancies = Seq(6), dim = 16)
      .collect()
    sweep.foreach(r => assert(r.getAs[Long]("overlap_ppm") >= 500000L,
      s"planted overlap ${r.mkString(",")}"))
  }

  test("lof truncation agreement: single shared bucket -> total top-K overlap; schema/bounds hold") {
    import spark.implicits._
    // same single-bucket construction as the bit-equality law above: with
    // the arms identical, every (occupancy, K) row must report FULL
    // overlap (n_overlap = min(top_k, non-null points), overlap_ppm from
    // the round-half-up div) — pinning the agreement plumbing itself
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 1.0f)),
      (2L, Array(2.0f, 0.0f)), (3L, Array(2.0f, 1.0f)),
      (9L, Array(20.0f, 20.0f))
    ).toDF("vec_id", "embedding")
    val out = graft.analysis.Similarity
      .lofTruncationAgreement(emb, k = 2, topKs = Seq(2, 5), occupancies = Seq(64))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      (64L, 2L, 2L, 1000000L),
      (64L, 5L, 5L, 1000000L)))
  }

  test("lof truncation agreement: split buckets lose the cross-bucket outlier verdicts") {
    import spark.implicits._
    // two sign-separated bundles plus one far point per side; occupancy 1
    // forces maximal width (capped at dim=2 -> 4 buckets) so each arm's
    // neighborhoods truncate at bucket borders and the top-K lists drift —
    // the agreement must be measurably BELOW total, and never above top_k
    val emb = (0L to 7L).map { i =>
      val s = if (i % 2 == 0) 1.0f else -1.0f
      (i, Array(s * (1.0f + i / 4.0f), s * (2.0f - i / 4.0f)))
    } :+ ((9L, Array(30.0f, 30.0f))) :+ ((10L, Array(-30.0f, -30.0f)))
    val out = graft.analysis.Similarity
      .lofTruncationAgreement(emb.toDF("vec_id", "embedding"),
        k = 2, topKs = Seq(3), occupancies = Seq(1, 64), dim = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .map { case (occ, kk, n) => (occ, kk) -> n }.toMap
    assert(out((1L, 3L)) <= 3L)
    assert(out((64L, 3L)) >= out((1L, 3L)),
      "wider buckets must not reduce agreement on this fixture")
  }

  test("exact L2 knn: literal-query projection ranks by true distance") {
    val vecs = Seq(
      (0L, Array(0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f)), // d2 = 1
      (2L, Array(0.0f, 2.0f)), // d2 = 4
      (3L, Array(3.0f, 4.0f)) // d2 = 25
    ).toDF("vec_id", "embedding")
    val out = Similarity.knnExactL2(vecs, vecs.filter($"vec_id" === 0L), topK = 2)
      .orderBy("rank").collect()
    assert(out.map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq ===
      Seq((1, 1L, 1.0), (2, 2L, 4.0)))
  }

  test("mmr rerank: diversity term demotes the redundant near-clone of the first pick") {
    // query along +x; candidates: 1 and 2 nearly collinear with the query
    // (2 marginally closer), 3 off-axis but still relevant. Pure relevance
    // ranks (2, 1, 3); MMR keeps 2 then prefers the DIVERSE 3 over 1.
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.98f, 0.199f, 0.0f)),
      (2L, Array(0.99f, 0.141f, 0.0f)),
      (3L, Array(0.6f, -0.8f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity
      .mmrRerank(vecs, vecs.filter($"vec_id" === 0L), window = 3, take = 3, lambda = 0.5)
      .orderBy("mmr_rank").collect()
    assert(out.map(_.getLong(1)).toSeq === Seq(2L, 3L, 1L))
    // rank 1 score is lambda * relevance with no penalty
    assert(out.head.getDouble(3) === 0.5 * out.head.getDouble(2))
    // scores never increase down the ranking
    val scores = out.map(_.getDouble(3)).toSeq
    assert(scores === scores.sorted.reverse)
    // take beyond the window degrades gracefully to the window size
    assert(Similarity.mmrRerank(vecs, vecs.filter($"vec_id" === 0L),
      window = 2, take = 2).count() === 2)
  }
}
