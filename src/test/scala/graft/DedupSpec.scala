package graft

import org.apache.spark.sql.functions._

import graft.analysis.{Dedup, TextAnalysis}
import graft.functions.SimHash

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "the quick brown fox jumps over the lazy dog near the river edge"), // near-dup of 1
    (3L, "completely different content about spark catalyst optimizer rules engine"),
    (4L, "The quick  brown fox jumps over the lazy dog near the river bank!") // exact dup of 1 after normalization
  ).toDF("doc_id", "text")

  test("shingles: size-n+1 shingles, empty below n tokens") {
    val out = spark.range(1).select(
      Dedup.shingles(split(lit("a b c d"), " "), 3).as("sh"),
      Dedup.shingles(split(lit("a b"), " "), 3).as("short"))
      .collect().head
    assert(out.getSeq[String](0) === Seq("a b c", "b c d"))
    assert(out.getSeq[String](1) === Seq())
  }

  test("exact dedup groups collapse normalization-equal docs") {
    val groups = Dedup.exactDupGroups(docs).filter(col("n_dupes") > 1).collect()
    assert(groups.length === 1)
    assert(groups.head.getAs[Long]("keeper") === 1L)
    assert(groups.head.getSeq[Long](groups.head.fieldIndex("dup_ids")) === Seq(1L, 4L))
    assert(Dedup.dedupExact(docs).count() === 3)
  }

  test("minhash LSH finds the near-dup pair and skips unrelated docs") {
    val pairs = Dedup.minhashNearDupPairs(docs, minJaccard = 0.5)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 4L))) // exact dup → jaccard 1.0
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("inverted-index jaccard agrees with LSH on high-similarity pairs") {
    val lsh = Dedup.minhashNearDupPairs(docs, minJaccard = 0.5)
      .select("doc_a", "doc_b", "jaccard").collect().toSet
    val exact = Dedup.ngramJaccardPairs(docs, minJaccard = 0.5)
      .select("doc_a", "doc_b", "jaccard").collect().toSet
    // LSH candidates ⊆ exact pairs, and jaccard values identical where both exist
    assert(lsh.subsetOf(exact))
    assert(exact.nonEmpty)
  }

  test("corpus prep: quality gate, exact dedup, near-dup removal compose") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank now"), // near-dup of 1
      (3L, "the catalyst optimizer rewrites logical plans into efficient physical operators"),
      (4L, "The quick brown fox jumps over the lazy dog near the river bank today!"), // exact dup of 1
      (5L, "aaa aaa aaa aaa aaa aaa")  // degenerate, fails quality
    ).toDF("doc_id", "text")
    // 5 fails quality, 4 collapses into 1, 2 goes as a near-dup of 1
    val survivors = graft.analysis.CorpusPrep.prepareCorpus(corpus,
        graft.analysis.CorpusPrep.Thresholds(minQuality = 35.0, minJaccard = 0.5))
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(survivors.toSeq === Seq(1L, 3L))
  }

  test("incremental corpus prep equals the batch rebuild over the union") {
    import graft.analysis.CorpusPrep
    val t = CorpusPrep.Thresholds(minQuality = 35.0, minJaccard = 0.5)
    val old = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank now"), // near-dup LOSER vs 1
      (3L, "the catalyst optimizer rewrites logical plans into efficient physical operators")
    ).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank now"),  // exact dup of REMOVED loser 2
      (11L, "the quick brown fox jumps over the lazy dog near the river bank soon"), // near-dup of 1 (and of loser 2)
      (12L, "structured streaming checkpoints offsets and state between micro batch runs"),
      (13L, "aaa aaa aaa aaa aaa aaa"), // fails quality
      (14L, "structured streaming checkpoints offsets and state between micro batch runs") // exact dup of 12
    ).toDF("doc_id", "text")
    val (corpus, sketch, fps) = CorpusPrep.batchArtifacts(old, t)
    val incremental = CorpusPrep
      .prepareCorpusIncrement(corpus, sketch, fps, fresh, t = t)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val batch = CorpusPrep.prepareCorpus(old.unionByName(fresh), t)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(incremental === batch)
    // the case that forces the sketch to retain LOSERS: 10 is an exact copy
    // of removed doc 2, so its fingerprint only exists in the exact set;
    // 11 is caught by the cross near-dup join; survivors stay 1, 3, 12
    assert(incremental === Seq(1L, 3L, 12L))
  }

  test("b-bit minhash: exact-dup pair estimates 1.0, estimate tracks the formula") {
    val pair = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (3L, "the catalyst optimizer rewrites logical plans into efficient physical operators")
    ).toDF("doc_id", "text")
    val out = Dedup.bbitMinhashPairs(pair, minJaccard = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getDouble(2), r.getDouble(3)))).toMap
    // identical shingle sets -> identical signatures -> every b-bit
    // component collides -> f = 1 -> corrected estimate exactly 1.0
    assert(out((1L, 2L)) === ((1.0, 1.0)))
    assert(out.size === 1)
  }

  test("simhash: identical docs hash equal; near-dups land within hamming 10") {
    val sigs = docs.select(col("doc_id"),
      SimHash.simhash64Md5(TextAnalysis.tokens(col("text"))).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) === sigs(4L)) // normalization-identical
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(2L)) <= 10)
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(3L)) > 10)
  }

  test("ngram jaccard df-cutoff: rare-shingle pairs exact, never fabricates, biased low") {
    // docs 1/2: a near-dup pair whose shared shingles appear ONLY in those
    // two docs (df = 2). docs 3..6: unrelated content glued together by one
    // boilerplate tail phrase — its shingles have df = 4 and are the only
    // thing those docs share (the m²/2 blow-up shape the cutoff exists for).
    val corpus = Seq(
      (1L, "alpha bravo charlie delta echo foxtrot golf hotel"),
      (2L, "alpha bravo charlie delta echo foxtrot golf india"),
      (3L, "red apples grow slowly please subscribe to our newsletter today"),
      (4L, "blue trains arrive late please subscribe to our newsletter today"),
      (5L, "green fields stretch far please subscribe to our newsletter today"),
      (6L, "black clouds gather fast please subscribe to our newsletter today")
    ).toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Double]("jaccard")).toMap
    val exact = pairs(Dedup.ngramJaccardPairs(corpus, minJaccard = 0.1))
    val cut = pairs(Dedup.ngramJaccardPairs(corpus, minJaccard = 0.1, maxShingleDf = 2))
    // cutoff never fabricates pairs and never raises a score
    assert(cut.keySet.subsetOf(exact.keySet))
    cut.foreach { case (k, j) => assert(j <= exact(k) + 1e-9) }
    // the rare-shingle pair is untouched: identical exact score
    assert(cut(1L -> 2L) === exact(1L -> 2L))
    // boilerplate-only pairs (df = 4 > cutoff) vanish entirely
    assert(exact.keySet.exists { case (a, b) => a >= 3L && b >= 3L })
    assert(!cut.keySet.exists { case (a, b) => a >= 3L && b >= 3L })
  }

  test("incremental near-dups: cross-boundary pairs only, agrees with the batch operator") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val corpus = Seq(
      (10L, base),                       // new batch (id % 10 == 0)
      (20L, "completely different text about spark query planning internals"),
      (1L, base),                        // existing near-dup of 10
      (2L, base + " extra"),             // existing near-dup of 10
      (3L, "unrelated existing document content with many distinct words here")
    ).toDF("doc_id", "text")
    val newDocs = corpus.filter($"doc_id" % 10 === 0)
    val existing = corpus.filter($"doc_id" % 10 =!= 0)
    val out = Dedup.incrementalNearDupPairs(newDocs, existing, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // only new-vs-existing pairs, never existing-vs-existing (1,2) or new-vs-new
    assert(out.keySet === Set((10L, 1L), (10L, 2L)))
    assert(out(10L -> 1L) === 1.0)
    // the full-batch operator over the union finds the same cross-boundary
    // pairs (plus the existing-existing ones this operator must NOT emit)
    val full = Dedup.minhashNearDupPairs(corpus, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full.contains((1L, 10L)) && full.contains((2L, 10L)) && full.contains((1L, 2L)))
  }

  test("fuzzy match: levenshtein pairs stay inside blocks, distance bounded") {
    val parts = Seq(
      (1L, "B1", "red widget"),
      (2L, "B1", "red wadget"),  // distance 1
      (3L, "B1", "blue cable"),  // far from both
      (4L, "B2", "red widget")   // identical string, DIFFERENT block → no pair
    ).toDF("pk", "brand", "name")
    val out = Dedup.fuzzyMatchPairs(parts, "brand", "pk", "name", maxDistance = 2)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Int]("distance")))
    assert(out.toSeq === Seq((1L, 2L, 1)))
  }

  test("fuzzy match: length-band blocking finds cross-band pairs exactly once") {
    // lengths 10 and 12 land in DIFFERENT bands (width 3) — the exploded
    // ±d neighborhood must still pair them, and only once
    val parts = Seq(
      (1L, "B1", "aaaaaaaaaa"),   // len 10, band 3
      (2L, "B1", "aaaaaaaaaaaa"), // len 12, band 4, distance 2
      (3L, "B1", "aaaaaaaaa")     // len 9, band 3, distance 1 from #1
    ).toDF("pk", "brand", "name")
    val out = Dedup.fuzzyMatchPairs(parts, "brand", "pk", "name", maxDistance = 2)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Int]("distance")))
      .sortBy(p => (p._1, p._2))
    assert(out.toSeq === Seq((1L, 2L, 2), (1L, 3L, 1)))
    // (2,3) distance 3 > maxDistance: correctly absent
  }

  test("fuzzy match: supplementary-plane chars stay sound (surrogate class collapse)") {
    // 𝕏 (U+1D54F) and 😀 (U+1F600) are both astral: split("") sees two
    // UTF-16 code units each, but levenshtein counts ONE char — the bitmap
    // bound must not drop the lev-1 pair
    val parts = Seq(
      (1L, "B1", "𝕏"),
      (2L, "B1", "😀"),
      (3L, "B1", "café menu"),   // BMP non-ascii
      (4L, "B1", "cafe menu")         // distance 1 from #3
    ).toDF("pk", "brand", "name")
    val out = Dedup.fuzzyMatchPairs(parts, "brand", "pk", "name", maxDistance = 2)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Int]("distance"))).toSet
    assert(out.contains((1L, 2L, 1)))
    assert(out.contains((3L, 4L, 1)))
  }

  test("connected components: dangling edges are inert, clusters keep a keeper") {
    // edge (1,99) references node 99 which is NOT in the node set; the old
    // failure mode let 99 become the component label → keeper-less cluster
    val pairs = Seq((1L, 2L), (1L, 99L)).toDF("doc_a", "doc_b")
    val docs = Seq(1L, 2L, 3L).toDF("doc_id")
    val out = Dedup.dedupClusters(pairs, docs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out === Map(
      1L -> ((1L, true)), 2L -> ((1L, false)), 3L -> ((3L, true))))
  }

  test("incremental near-dups: materialized-sketch path equals the raw-docs path") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val corpus = Seq(
      (10L, base), (1L, base), (2L, base + " extra"),
      (3L, "unrelated existing document content with many distinct words here")
    ).toDF("doc_id", "text")
    val newDocs = corpus.filter($"doc_id" % 10 === 0)
    val existing = corpus.filter($"doc_id" % 10 =!= 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val viaRaw = rows(Dedup.incrementalNearDupPairs(newDocs, existing, minJaccard = 0.5))
    val sketch = Dedup.sketchDocs(existing).persist()
    val viaArtifact = rows(Dedup.incrementalNearDupPairsAgainstSketch(
      newDocs, sketch, minJaccard = 0.5))
    sketch.unpersist()
    assert(viaRaw === viaArtifact)
    assert(viaRaw.keySet === Set((10L, 1L), (10L, 2L)))
  }

  test("self near-dups from a stored sketch equal the raw-docs path") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val corpus = Seq(
      (1L, base), (2L, base + " extra"),
      (3L, "unrelated existing document content with many distinct words here"),
      (4L, "hi") // sub-shingle doc: dropped by both paths
    ).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val viaRaw = rows(Dedup.minhashNearDupPairs(corpus, minJaccard = 0.5))
    val sketch = Dedup.sketchDocs(corpus).localCheckpoint(true)
    val viaSketch = rows(Dedup.nearDupPairsFromSketch(sketch, minJaccard = 0.5))
    assert(viaRaw === viaSketch)
    assert(viaRaw.keySet === Set((1L, 2L)))
  }

  test("fuzzy match: composite secondary blocking narrows to same-first-token pairs") {
    import org.apache.spark.sql.functions.substring_index
    val parts = Seq(
      (1L, "B1", "red widget"),
      (2L, "B1", "red wadget"),  // distance 1, same first token
      (3L, "B1", "rad widget"),  // distance 1 from #1, DIFFERENT first token
      (4L, "B1", "red widgets")  // distance 1 from #1, same first token
    ).toDF("pk", "brand", "name")
    val exact = Dedup.fuzzyMatchPairs(parts, "brand", "pk", "name", maxDistance = 2)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val blocked = Dedup.fuzzyMatchPairs(parts, "brand", "pk", "name", maxDistance = 2,
        secondaryBlock = Some(substring_index(_, " ", 1)))
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    // blocked is a subset: recall traded for scale, never fabrication
    assert(blocked.subsetOf(exact))
    // cross-first-token pairs vanish, same-first-token pairs survive
    assert(exact.contains((1L, 3L)) && !blocked.contains((1L, 3L)))
    assert(blocked.contains((1L, 2L)) && blocked.contains((1L, 4L)))
  }

  test("sentence dedup: corpus-wide first occurrence wins, docs reassemble in order") {
    val corpus = Seq(
      (1L, "unique one. shared line. unique two."),
      (2L, "shared line. another unique."),
      (3L, "shared line.") // everything already seen → empty doc
    ).toDF("doc_id", "text")
    val out = Dedup.sentenceDedup(corpus).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) === ((3L, 3L, "unique one. shared line. unique two.")))
    assert(out(2L) === ((2L, 1L, "another unique.")))
    assert(out(3L) === ((1L, 0L, "")))
  }

  test("dedup clusters: non-transitive chains merge into one component, singletons keep themselves") {
    // 1~2, 2~3 but NOT 1~3 (the non-transitivity motivating components);
    // 10..14 is a 5-node chain needing several propagation rounds;
    // 7 is a singleton with no pairs at all.
    val nodes = (Seq(1L, 2L, 3L, 7L) ++ (10L to 14L)).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.dedupClusters(pairs, nodes).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1)
    assert(out.toSeq === Seq(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (7L, 7L, true),
      (10L, 10L, true), (11L, 10L, false), (12L, 10L, false),
      (13L, 10L, false), (14L, 10L, false)))
  }

  test("single-task union-find labels equal the propagation loop's fixed point") {
    // the two componentLabels strategies must be set-identical on every
    // graph shape: long chains (many propagation rounds), stars, cycles,
    // merged components, isolated edges, and an empty edge set
    val fixtures: Seq[Seq[(Long, Long)]] = Seq(
      (1L to 40L).sliding(2).map(w => (w(0), w(1))).toSeq, // 40-node chain
      Seq((5L, 1L), (5L, 2L), (5L, 3L), (5L, 4L)), // star, hub not the min
      Seq((1L, 2L), (2L, 3L), (3L, 1L), (10L, 11L)), // cycle + isolated edge
      Seq((1L, 2L), (3L, 4L), (2L, 3L)), // merge two components via a bridge
      Seq.empty)
    fixtures.foreach { edges =>
      val pairs = edges.toDF("doc_a", "doc_b")
      val sym = pairs.select($"doc_a".as("a"), $"doc_b".as("b"))
        .union(pairs.select($"doc_b".as("a"), $"doc_a".as("b")))
        .distinct().persist()
      val fast = Dedup.unionFindLabels(sym).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val loop = Dedup.componentLabelsLoop(sym, maxIter = 50)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(fast === loop, s"strategies diverged on edges=$edges")
    }
  }

  test("componentLabels gate: long ids under the row gate take the single-task path") {
    // under the SizeGate budget the fast path labels every edge-incident
    // node with the component min and returns small=true so the tails
    // broadcast; at a 1-byte budget the loop runs and returns small=false
    val pairs = Seq((4L, 2L), (2L, 9L), (20L, 31L), (31L, 25L)).toDF("doc_a", "doc_b")
    def run() = {
      val (labels, small) = Dedup.componentLabels(
        pairs, "doc_a", "doc_b", maxIter = 20, nodeFilter = None)
      (labels.collect().map(r => (r.getLong(0), r.getLong(1))).toSet, small)
    }
    val (fast, fastSmall) = run()
    val (loop, loopSmall) = withGateBudget("1")(run())
    assert(fastSmall && !loopSmall)
    assert(fast === Set((2L, 2L), (4L, 2L), (9L, 2L), (20L, 20L), (25L, 20L), (31L, 20L)))
    assert(loop === fast)
    // the tails take the same answer: dedup decisions agree on both paths
    val nodes = Seq(2L, 4L, 9L, 20L, 25L, 31L, 40L).toDF("doc_id")
      .withColumn("quality_centi", (col("doc_id") * 7 % 10).cast("long"))
    def decisions() = Dedup.dedupClustersKeepBest(pairs, nodes).collect().map(_.toSeq).toSeq
    assert(withGateBudget("1")(decisions()) === decisions())
  }

  test("prefix-filtered jaccard equals exact all-pairs jaccard (lossless)") {
    val corpus = (docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ++
      Seq((5L, "spark catalyst optimizer rules engine for completely different content"),
        (6L, "tiny doc"))) // < 3 tokens after shingling guard
      .toDF("doc_id", "text")
    val pruned = Dedup.prefixJaccardPairs(corpus, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // brute-force truth over the same shingle sets
    val sets = corpus
      .select(col("doc_id"), Dedup.shingleSet(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
    val exact = sets.as("a").join(sets.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        round(size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
          size(array_union(col("a.sh"), col("b.sh"))).cast("double"), 4).as("j"))
      .filter(col("j") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pruned === exact)
    assert(exact.nonEmpty) // the law shouldn't pass vacuously
  }

  test("linkage scores: disagreements scored, not dropped; threshold gates links") {
    val recs = Seq(
      // block (X, acme): near-identical names, same size+type -> strong link
      (1L, "X", "acme widget red", 5, "t1"),
      (2L, "X", "acme widget rex", 5, "t1"),
      // same block, name miles off, fields agree -> scored but below threshold
      (3L, "X", "acme completely different thing", 5, "t1"),
      // different first token -> never paired with 1/2/3
      (4L, "X", "zeta widget red", 5, "t1")
    ).toDF("id", "brand", "name", "size", "typ")
    val out = Dedup.linkageScores(recs, idCol = "id",
        blocks = Seq(("b1", col("brand")),
          ("b2", org.apache.spark.sql.functions.substring_index(col("name"), " ", 1))),
        exactFields = Seq(("size", 2.0, -1.0), ("typ", 3.0, -1.0)),
        fuzzyField = "name", fuzzyMaxDist = 2, fuzzyWeights = (4.0, -2.0),
        threshold = 5.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("score")))
    // (1,2): 2+3+4 = 9; (1,3)/(2,3): 2+3-2 = 3 < 5; 4 blocked away
    assert(out.toSeq === Seq((1L, 2L, 9.0)))
  }

  test("containment: embedded fragment scores 1.0 toward its container, not vice versa") {
    val fragment = "the quick brown fox jumps over the lazy dog"
    val corpus = Seq(
      (1L, fragment), // 7 shingles, all inside doc 2
      (2L, s"a very long article begins here $fragment and then continues with plenty of unrelated material afterwards"),
      (3L, "entirely disjoint text about catalyst optimizer internals and physical plans")
    ).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(corpus, minContainment = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // every shingle of 1 appears in 2 -> C(1->2) = 1.0; 2 is much bigger
    // than 1 so C(2->1) is far below threshold; 3 pairs with nobody
    assert(out === Map((1L, 2L) -> 1.0))
    // symmetric jaccard at the same threshold misses the pair entirely
    assert(Dedup.ngramJaccardPairs(corpus, minJaccard = 0.9).isEmpty)
    // df cutoff drops the ubiquitous shingle path: cutoff 1 kills all pairs
    assert(Dedup.containmentPairs(corpus, minContainment = 0.5, maxShingleDf = 1).isEmpty)
  }

  test("duplicated spans: cross-doc boilerplate found, within-doc repeats counted, short docs dropped") {
    val boiler = "please subscribe to our newsletter for more updates today"
    val corpus = Seq(
      (10L, s"alpha beta gamma $boiler delta epsilon"),
      (20L, s"$boiler something else entirely different here now"),
      (30L, "unique content with no repeated spans anywhere in this document at all"),
      (40L, "tiny doc") // < spanTokens tokens -> contributes no windows
    ).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpans(corpus, spanTokens = 9, minDocs = 2).collect()
    // the 9-token boilerplate sentence yields exactly one shared window
    // per doc (it sits at different offsets, so only the full-sentence
    // window is common to both)
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("n_docs") === 2L)
    assert(r.getAs[Long]("n_occurrences") === 2L)
    // struct-min location: doc 10, where the span starts at token 3
    assert(r.getAs[Long]("first_doc") === 10L)
    assert(r.getAs[Int]("first_start") === 3)
    // a doc repeating a span internally counts occurrences but not docs
    val selfRep = Seq((1L, "x y z x y z x y z")).toDF("doc_id", "text")
    val rep = Dedup.duplicatedSpans(selfRep, spanTokens = 3, minDocs = 1).collect()
    val xyz = rep.find(_.getAs[Long]("n_occurrences") >= 3L)
    assert(xyz.isDefined && xyz.get.getAs[Long]("n_docs") === 1L)
    assert(Dedup.duplicatedSpans(selfRep, spanTokens = 3, minDocs = 2).isEmpty)
    // incremental law: disjoint per-doc index rows merge losslessly, so
    // the report over split-and-merged indexes equals the batch rebuild
    val merged = Dedup.duplicatedSpansFromIndex(
      Dedup.spanIndex(corpus.filter($"doc_id" <= 20L), spanTokens = 9)
        .unionByName(Dedup.spanIndex(corpus.filter($"doc_id" > 20L), spanTokens = 9)),
      minDocs = 2).orderBy("span_fp").collect()
    val batch = Dedup.duplicatedSpans(corpus, spanTokens = 9, minDocs = 2)
      .orderBy("span_fp").collect()
    assert(merged.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
  }

  test("ensemble signals: both/text_only/embedding_only classification, full-outer key space") {
    val tp = Seq((1L, 2L, 0.9), (3L, 4L, 0.85)).toDF("doc_a", "doc_b", "jaccard")
    val ep = Seq((1L, 2L, 0.97), (5L, 6L, 0.92)).toDF("doc_a", "doc_b", "cosine")
    val out = Dedup.ensembleSignals(tp, ep).orderBy("doc_a", "doc_b").collect()
    assert(out.length === 3)
    val m = out.map(r => (r.getLong(0), r.getLong(1)) -> r.getString(4)).toMap
    assert(m === Map((1L, 2L) -> "both", (3L, 4L) -> "text_only", (5L, 6L) -> "embedding_only"))
    val both = out.find(r => r.getLong(0) === 1L).get
    assert(both.getDouble(2) === 0.9 && both.getDouble(3) === 0.97)
    val textOnly = out.find(r => r.getLong(0) === 3L).get
    assert(textOnly.isNullAt(3)) // no cosine on the text-only row
  }

  test("lsh tuning curve: identical pair always collides, disjoint never, theo matches closed form") {
    val docs = Seq(
      (1L, "a b c d e f g h i j k l"),
      (2L, "a b c d e f g h i j k l"),   // identical: j=1, decile 9
      (3L, "z y x w v u t s r q p o")    // disjoint from both: j=0, decile 0
    ).toDF("doc_id", "text")
    val out = Dedup.lshTuningCurve(docs).orderBy("decile").collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // decile 0: the two disjoint pairs; banding never collides them
    assert(out(0)._1 === 2L && out(0)._2 === 0L && out(0)._3 === 0L)
    // decile 9: the identical pair; identical signatures always collide
    assert(out(9) === ((1L, 1L, 1000000L, 998816L)))
    // theoretical ppm curve at the decile-0 midpoint: 1-(1-0.05^4)^4
    assert(out(0)._4 === math.round((1.0 - math.pow(1.0 - math.pow(0.05, 4), 4)) * 1e6))
    assert(Dedup.lshTheoPpm(4, 4)(9) === 998816L)
  }

  test("lsh stage checksums: per-stage counts match the tuning-curve derivation") {
    val docs = Seq(
      (1L, "a b c d e f g h i j k l"),
      (2L, "a b c d e f g h i j k l"),   // identical pair: 1 candidate, 1 scored
      (3L, "z y x w v u t s r q p o")
    ).toDF("doc_id", "text")
    val out = Dedup.lshStageChecksums(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out.keySet === Set("sets", "shingles", "sigs", "bands", "cand",
      "scored", "tail_po", "tail_zadj"))
    assert(out("sets")._1 === 3L)        // 3 docs with non-empty shingle sets
    assert(out("shingles")._1 === 30L)   // 10 distinct 3-grams per doc
    assert(out("sigs")._1 === 3L)
    assert(out("bands")._1 === 12L)      // 3 docs x 4 bands
    assert(out("cand")._1 === 1L)        // only the identical pair collides
    assert(out("scored")._1 === 1L)      // only the identical pair overlaps
    // round-10 tail stages: the full-outer fold still holds one pair row;
    // the adjusted histogram has decile 9 (the identical pair, jaccard 1)
    // plus decile 0 carrying the C(3,2)-1 = 2 unseen zero-overlap pairs
    assert(out("tail_po")._1 === 1L)
    assert(out("tail_zadj")._1 === 2L)
    // identical docs, same stage inputs -> xor of a repeated hash cancels
    // only if BOTH ids were equal; here ids differ so every xor is nonzero
    assert(out.values.forall(_._2 !== 0L))
  }

  test("winnowing: identical docs share every fingerprint, disjoint docs share none") {
    val docs = Seq(
      (1L, "a b c d e f g h i j k l"),
      (2L, "a b c d e f g h i j k l"),
      (3L, "z y x w v u t s r q p o")
    ).toDF("doc_id", "text")
    val out = Dedup.winnowingNearDupPairs(docs).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("doc_a") === 1L && r.getAs[Long]("doc_b") === 2L)
    assert(r.getAs[Long]("n_shared") === r.getAs[Long]("n_a"))
    assert(r.getAs[Long]("n_a") === r.getAs[Long]("n_b"))
    assert(r.getAs[Long]("overlap_ppm") === 1000000L)
    // density: 12 tokens -> 8 5-grams -> 5 full 4-windows -> <= 5 distinct
    // minima, and at least one
    assert(r.getAs[Long]("n_a") >= 1L && r.getAs[Long]("n_a") <= 5L)
  }

  test("winnowing guarantee: a shared k+w-1 token run ALWAYS yields a shared fingerprint") {
    // doc 4 shares exactly the 8-token prefix (k=5 + w=4 - 1) with doc 1:
    // the winnowing theorem promises at least one common fingerprint —
    // this is the coverage property banded MinHash cannot give
    val docs = Seq(
      (1L, "a b c d e f g h i j k l"),
      (4L, "a b c d e f g h zz yy xx ww")
    ).toDF("doc_id", "text")
    val out = Dedup.winnowingNearDupPairs(docs, minShared = 1).collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("n_shared") >= 1L)
  }

  test("winnowing decontam: a shared k+w-1 run is certified-flagged, clean docs stay silent") {
    val corpus = Seq(
      (1L, "a b c d e f g h i j k l"),       // contains eval doc 100's prefix run
      (2L, "z y x w v u t s r q p o")        // clean
    ).toDF("doc_id", "text")
    val eval = Seq(
      (100L, "a b c d e f g h mm nn oo pp")  // shares exactly the 8-token prefix
    ).toDF("doc_id", "text")
    val out = Dedup.winnowingDecontam(corpus, eval).collect()
    assert(out.length === 1) // doc 2 must NOT be flagged
    val r = out.head
    assert(r.getAs[Long]("doc_id") === 1L)
    assert(r.getAs[Long]("matched_eval_doc") === 100L)
    assert(r.getAs[Long]("best_shared") >= 1L) // the winnowing guarantee
    assert(r.getAs[Long]("n_eval_matches") === 1L)
  }

  test("winnowing increment law: unioned per-batch fingerprints ≡ whole-corpus pairs") {
    val docs = Seq(
      (1L, "a b c d e f g h i j k l"),
      (2L, "a b c d e f g h i j k l"),
      (3L, "a b c d e f g h zz yy xx ww"),
      (4L, "z y x w v u t s r q p o")
    ).toDF("doc_id", "text")
    val whole = Dedup.winnowingNearDupPairs(docs, minShared = 1)
      .orderBy("doc_a", "doc_b").collect().map(_.toSeq).toSeq
    val merged = Dedup.winnowingPairsFromFingerprints(
        Dedup.winnowingFingerprints(docs.filter($"doc_id" <= 2))
          .unionByName(Dedup.winnowingFingerprints(docs.filter($"doc_id" > 2))),
        minShared = 1)
      .orderBy("doc_a", "doc_b").collect().map(_.toSeq).toSeq
    assert(merged === whole && whole.nonEmpty)
  }

  test("dedup weights: 1/|cluster| per member, total gradient mass = one doc per cluster") {
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val docs = (1L to 5L).map(Tuple1(_)).toDF("doc_id")
    val out = Dedup.dedupWeights(Dedup.dedupClusters(pairs, docs))
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getDouble(3)))).toMap
    Seq(1L, 2L, 3L).foreach(id => assert(out(id) === ((3L, 0.333333))))
    Seq(4L, 5L).foreach(id => assert(out(id) === ((1L, 1.0))))
    // mass check: clusters contribute one doc each
    val mass = out.values.map(_._2).sum
    assert(math.abs(mass - 3.0) < 1e-4) // 1 big cluster + 2 singletons
  }

  test("ensemble clusters: a chain spanning modalities merges into one dup group") {
    // text sees 1~2, embeddings see 2~3: neither signal alone connects 1 to
    // 3, the union's transitive closure does
    val tp = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val ep = Seq((2L, 3L)).toDF("doc_a", "doc_b")
    val docs = (1L to 4L).map(Tuple1(_)).toDF("doc_id")
    val out = Dedup.dedupClusters(tp.unionByName(ep).distinct(), docs)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out(1L) === ((1L, true)) && out(2L) === ((1L, false)) && out(3L) === ((1L, false)))
    assert(out(4L) === ((4L, true))) // untouched singleton keeps itself
  }

  test("lsh-fed ensemble ≡ exact-fed ensemble when buckets are exhaustive (q232 law)") {
    // every embedding's first 6 dims are >= 0, so the 6-axis sign
    // signature maps the whole corpus into ONE bucket — the LSH pair
    // generator then sees exactly the all-pairs space, and the two
    // ensemble compositions must produce identical clusterings
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),  // exact text dup of 1
      (3L, "totally different words here entirely now"),
      (4L, "unrelated content again for the singleton")
    ).toDF("doc_id", "text")
    val emb = Seq(
      (2L, Array(0.9f, 0.1f, 0.2f, 0.1f, 0.1f, 0.1f)),
      (3L, Array(0.89f, 0.11f, 0.2f, 0.1f, 0.1f, 0.1f)), // near-dup of 2
      (1L, Array(0.0f, 1.0f, 0.0f, 0.3f, 0.2f, 0.1f)),
      (4L, Array(0.1f, 0.0f, 0.9f, 0.0f, 0.4f, 0.2f))
    ).toDF("vec_id", "embedding")
    def clusters(ep: org.apache.spark.sql.DataFrame) = {
      val tp = Dedup.minhashNearDupPairs(docs).select("doc_a", "doc_b")
      Dedup.dedupClusters(
          tp.unionByName(ep.select("doc_a", "doc_b")).distinct(),
          docs.select(col("doc_id")))
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
    }
    val exactFed = clusters(
      graft.analysis.Similarity.embeddingNearDupPairsExact(emb, minCosine = 0.4))
    val lshFed = clusters(
      graft.analysis.Similarity.embeddingNearDupPairsWith(emb,
        graft.analysis.Similarity.axisSignSignature(_, 6), minCosine = 0.4))
    assert(lshFed === exactFed)
    // and the closure actually spans modalities: text joins 1~2, embedding
    // joins 2~3 -> {1,2,3} one cluster, 4 a singleton
    val m = lshFed.map(r => r.head -> r(1)).toMap
    assert(m === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L))
  }

  test("source overlap: shared shingles per source pair, overlap vs smaller side, sparse") {
    // s1 and s2 share the shingle "a b c d e"; s3 is disjoint and absent
    val docs = Seq(
      (1L, "a b c d e f", "s1"),   // shingles: "a b c d e", "b c d e f"
      (2L, "a b c d e x", "s2"),   // shingles: "a b c d e", "b c d e x"
      (3L, "p q r s t", "s3")
    ).toDF("doc_id", "text", "source")
    val out = Dedup.sourceOverlap(docs, n = 5).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[String]("source_a") === "s1" && r.getAs[String]("source_b") === "s2")
    assert(r.getAs[Long]("n_shared") === 1L)
    assert(r.getAs[Long]("n_a") === 2L && r.getAs[Long]("n_b") === 2L)
    assert(r.getAs[Double]("overlap") === 0.5)
    // containment: a source fully inside another scores 1.0
    val contained = Seq(
      (1L, "a b c d e f", "big"), (2L, "a b c d e", "small")
    ).toDF("doc_id", "text", "source")
    val c = Dedup.sourceOverlap(contained, n = 5).collect().head
    assert(c.getAs[Double]("overlap") === 1.0)
    // incremental law: distinct-union of split artifacts = whole rebuild
    val merged = Dedup.sourceOverlapFromArtifact(
      Dedup.sourceOverlapArtifact(docs.filter($"doc_id" <= 1L))
        .unionByName(Dedup.sourceOverlapArtifact(docs.filter($"doc_id" > 1L)))
        .distinct())
      .orderBy("source_a", "source_b").collect()
    val whole = Dedup.sourceOverlap(docs, n = 5)
      .orderBy("source_a", "source_b").collect()
    assert(merged.map(_.toSeq).toSeq === whole.map(_.toSeq).toSeq)
  }

  test("leakage-safe split: duplicates never straddle splits; proportions honored") {
    import spark.implicits._
    val docs = (0L until 200L).map { i =>
      // ids 100+ duplicate the text of id-100 (normalization-equal)
      val base = i % 100
      (i, s"document number $base with some shared body text $base")
    }.toDF("doc_id", "text")
    val out = graft.analysis.CorpusPrep.leakageSafeSplit(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.length === 200)
    // the invariant the operator exists for: same cluster ⇒ same split
    out.groupBy(_._2).foreach { case (_, members) =>
      assert(members.map(_._3).distinct.length === 1,
        "duplicate cluster straddles splits")
    }
    // dup of doc i is i+100 → representative is always the lower id
    out.filter(_._1 >= 100L).foreach { case (id, rep, _) =>
      assert(rep === id - 100L)
    }
    // all three splits materialize at the default 80/10/10 gate
    assert(out.map(_._3).distinct.sorted.toSeq === Seq("test", "train", "val"))
  }

  test("threshold sweep: reverse-cumulative pair and doc curves exact") {
    import spark.implicits._
    // pairs at 0.15, 0.55, 0.55, 0.95; doc 1 peaks at 0.95, doc 5 at 0.55
    val pairs = Seq(
      (1L, 2L, 0.95), (1L, 3L, 0.55), (4L, 5L, 0.55), (6L, 7L, 0.15)
    ).toDF("doc_a", "doc_b", "jaccard")
    val out = Dedup.thresholdSweep(pairs).orderBy("threshold").collect()
      .map(r => math.round(r.getDouble(0) * 10).toInt ->
        ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1) === ((4L, 7L))) // every pair, every doc
    assert(out(2) === ((3L, 5L))) // 0.15 pair out, docs 6/7 out
    assert(out(5) === ((3L, 5L)))
    assert(out(6) === ((1L, 2L))) // only the 0.95 pair and docs 1/2
    assert(out(9) === ((1L, 2L)))
  }

  test("decontam masks: mid-document benchmark quote masked, clean doc untouched") {
    import spark.implicits._
    val bench = (1 to 10).map(i => s"bench$i").mkString(" ") // one 10-token eval doc
    val quote = (1 to 10).map(i => s"bench$i").mkString(" ")
    val corpus = Seq(
      // 5 fresh tokens + the 10-token quote + 5 fresh: spans fully inside
      // the quote start at 5,6,7 → one island of 10 tokens
      (1L, (1 to 5).map(i => s"pre$i").mkString(" ") + " " + quote + " " +
        (1 to 5).map(i => s"post$i").mkString(" ")),
      (2L, (1 to 20).map(i => s"clean$i").mkString(" "))
    ).toDF("doc_id", "text")
    val eval_ = Seq((100L, bench)).toDF("doc_id", "text")
    val out = Dedup.contaminationMasks(corpus, eval_, spanTokens = 8)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(out(1L) === ((20L, 3L, 1L, 10L, 0.5)))
    assert(out(2L) === ((20L, 0L, 0L, 0L, 0.0)))
  }

  test("span masks: adjacent dup spans merge into one island, budget exact") {
    import spark.implicits._
    // 12-token docs sharing tokens 0-9 (10 tokens → 3 dup 8-spans at
    // starts 0,1,2 — one island of 10 tokens); doc 3 is all-fresh
    val shared = (1 to 10).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, shared + " alpha beta"),
      (2L, shared + " gamma delta"),
      (3L, (1 to 12).map(i => s"zzz$i").mkString(" "))
    ).toDF("doc_id", "text")
    val out = Dedup.spanMasks(docs, spanTokens = 8).orderBy("doc_id").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // starts 0..2 are the spans fully inside the shared prefix; spans at
    // starts 3-4 include doc-unique suffix tokens so they never duplicate
    assert(out(1L) === ((12L, 3L, 1L, 10L, 0.833333)))
    assert(out(2L) === ((12L, 3L, 1L, 10L, 0.833333)))
    assert(out(3L) === ((12L, 0L, 0L, 0L, 0.0)))
  }

  test("shared runs: known longest run, two separated runs counted, df bound drops boilerplate") {
    import spark.implicits._
    // docs 1/2 share a 10-token run (at offset 0 in doc 1, offset 2 in
    // doc 2 — diagonal -2) AND a separate 8-token run at their tails;
    // doc 3 is fresh. spanTokens=8: run A has matching starts 0..2 (3
    // spans, length 2+8=10), run B exactly one span each side.
    val runA = (1 to 10).map(i => s"tok$i").mkString(" ")
    val runB = (1 to 8).map(i => s"end$i").mkString(" ")
    val docs = Seq(
      (1L, runA + " alpha beta gamma " + runB),
      (2L, "pre1 pre2 " + runA + " delta " + runB),
      (3L, (1 to 21).map(i => s"zzz$i").mkString(" "))
    ).toDF("doc_id", "text")
    val out = Dedup.sharedRuns(docs, spanTokens = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq === Seq((1L, 2L, 2L, 4L, 10L)))
    // the df bound excludes spans in more documents than the cap: with
    // runA also pasted into doc 3, maxDocsPerSpan=2 drops its fingerprints
    // entirely, leaving only the 2-doc runB pair rows
    val docs3 = Seq(
      (1L, runA + " alpha beta gamma " + runB),
      (2L, "pre1 pre2 " + runA + " delta " + runB),
      (3L, runA)
    ).toDF("doc_id", "text")
    val bounded = Dedup.sharedRuns(docs3, spanTokens = 8, maxDocsPerSpan = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    assert(bounded.toSeq === Seq((1L, 2L, 8L)))
  }

  test("keep-best policy: the higher-quality member survives, not the minimum id") {
    import spark.implicits._
    // cluster {1, 2}: doc 2 scores higher -> keeper despite the larger
    // id; doc 3 is a singleton and keeps itself; quality ties in a
    // cluster fall back to min id
    val pairs = Seq((1L, 2L), (4L, 5L)).toDF("doc_a", "doc_b")
    val scored = Seq(
      (1L, 5000L), (2L, 7200L), (3L, 100L), (4L, 4200L), (5L, 4200L)
    ).toDF("doc_id", "quality_centi")
    val out = Dedup.dedupClustersKeepBest(pairs, scored).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(out.toSeq === Seq(
      (1L, 1L, 5000L, false),
      (2L, 1L, 7200L, true),
      (3L, 3L, 100L, true),
      (4L, 4L, 4200L, true), // tie at 4200 -> min id keeps
      (5L, 4L, 4200L, false)))
  }

  test("keeper increment law: stored pair artifacts across a corpus/batch boundary ≡ rebuild, incl. the keeper flip") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def mk(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ")
    // old corpus: 1 ↔ 2 near-dups (settled yesterday, keeper 2 by
    // quality); batch: 10 is a near-dup of OLD doc 1 with strictly
    // higher quality — the stored keeper must flip to 10 in both paths
    val docs = Seq(
      (1L, mk("aa", 40)),
      (2L, mk("aa", 40) + " zz1"),
      (3L, mk("ba", 40)),
      (10L, mk("aa", 40) + " zz2 zz3"),
      (11L, mk("ca", 40))).toDF("doc_id", "text")
    val scored = Seq(
      (1L, 5000L), (2L, 6000L), (3L, 4000L), (10L, 9000L), (11L, 4100L)
    ).toDF("doc_id", "quality_centi")
    val whole = Dedup.dedupClustersKeepBest(
        Dedup.minhashNearDupPairs(docs), scored)
      .collect().map(_.toSeq).toSeq
    // increment: ids are monotonic across the boundary (max old < min new)
    val old = docs.filter(col("doc_id") <= 3)
    val fresh = docs.filter(col("doc_id") >= 10)
    val cross = Dedup.incrementalNearDupPairs(fresh, old)
      .select(col("existing_id").as("doc_a"), col("new_id").as("doc_b"))
    val merged = Dedup.dedupClustersKeepBest(
        Dedup.minhashNearDupPairs(old).select("doc_a", "doc_b")
          .unionByName(Dedup.minhashNearDupPairs(fresh).select("doc_a", "doc_b"))
          .unionByName(cross),
        scored)
      .collect().map(_.toSeq).toSeq
    assert(merged === whole)
    // the flip actually happened: {1, 2, 10} one cluster, keeper 10
    val verdicts = whole.map(r => r.head.asInstanceOf[Long] ->
      (r(1).asInstanceOf[Long], r(3).asInstanceOf[Boolean])).toMap
    assert(verdicts(1L)._1 === verdicts(2L)._1 &&
      verdicts(1L)._1 === verdicts(10L)._1)
    assert(verdicts(10L)._2 && !verdicts(1L)._2 && !verdicts(2L)._2)
    assert(verdicts(3L)._2 && verdicts(11L)._2) // singletons keep themselves
  }

  test("dedup savings: dup bytes charged to the copy's source, min-id survives") {
    import spark.implicits._
    val docs = Seq(
      (1L, "same text", "web"),    // survivor (min id in the fp group)
      (2L, "same text", "crawl"),  // dropped copy -> charged to crawl
      (3L, "unique here", "crawl")
    ).toDF("doc_id", "text", "source")
    val out = Dedup.dedupSavings(docs).orderBy("source").collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(out("web") === ((1L, 0L, 9L, 0L, 0.0)))
    // crawl: 2 docs, 1 dup of 9 chars out of 9+11=20
    assert(out("crawl") === ((2L, 1L, 20L, 9L, 0.45)))
  }

  test("cdc chunk dedup: exact duplicates halve the corpus; boundaries ride with content") {
    import spark.implicits._
    val body = (1 to 400).map(i => s"w$i").mkString(" ")
    // identical pair: the duplicate doc adds chunks but ZERO new unique
    // content (chunk contents may also repeat within one doc, so unique
    // is compared against the single-doc run, not n_chunks/2)
    val solo = graft.analysis.Dedup.cdcChunkDedup(
      Seq((1L, body)).toDF("doc_id", "text")).collect().head
    val twins = Seq((1L, body), (2L, body)).toDF("doc_id", "text")
    val t = graft.analysis.Dedup.cdcChunkDedup(twins).collect().head
    assert(t.getAs[Long]("n_docs") === 2L)
    assert(t.getAs[Long]("n_chunks") === 2 * solo.getAs[Long]("n_chunks"))
    assert(t.getAs[Long]("n_unique_chunks") === solo.getAs[Long]("n_unique_chunks"))
    assert(t.getAs[Long]("chars_dedup") === solo.getAs[Long]("chars_dedup"))
    assert(t.getAs[Long]("savings_ppm") >= 500000L)
    assert(t.getAs[Long]("chars_total") === 2L * body.length)
    // head insertion: content-defined boundaries re-sync, so the shifted
    // copy still shares most chunks (fixed-size chunking would share none)
    val shifted = Seq((1L, body), (2L, "zzz " + body)).toDF("doc_id", "text")
    val s = graft.analysis.Dedup.cdcChunkDedup(shifted).collect().head
    val total = s.getAs[Long]("n_chunks")
    val unique = s.getAs[Long]("n_unique_chunks")
    assert(total - unique > total / 3,
      s"expected most chunks shared after re-sync, got $unique unique of $total")
    // short doc: one whole-doc chunk, zero savings
    val one = Seq((1L, "tiny")).toDF("doc_id", "text")
    val o = graft.analysis.Dedup.cdcChunkDedup(one).collect().head
    assert(o.getAs[Long]("n_chunks") === 1L && o.getAs[Long]("savings_ppm") === 0L)
  }

  test("cdc chunk counts: merged batches report identically to the whole-corpus rebuild") {
    import spark.implicits._
    val docs = (1 to 30).map(i =>
      (i.toLong, (1 to 60).map(j => s"t${(i * 7 + j) % 40}").mkString(" ")))
      .toDF("doc_id", "text")
    val stored = graft.analysis.Dedup.cdcChunkCounts(docs.filter($"doc_id" <= 20))
    val fresh = graft.analysis.Dedup.cdcChunkCounts(docs.filter($"doc_id" > 20))
    val merged = stored.unionByName(fresh).groupBy("h")
      .agg(sum("n").as("n"), min("l").as("l"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val inc = graft.analysis.Dedup.cdcReportFromCounts(merged, nDocs)
      .collect().head.toSeq
    val full = graft.analysis.Dedup.cdcChunkDedup(docs).collect().head.toSeq
    assert(inc === full) // THE LAW: merge == rebuild
  }


  test("cdc boundaries: native rolling expression equals the declarative per-position fold") {
    import spark.implicits._
    val texts = Seq(
      "",                                      // empty
      "short",                                 // below window
      "exactly sixteen!",                      // len == window: no interior position
      (1 to 500).map(i => s"w${i % 37}").mkString(" "),   // long, repetitive
      "a" * 200,                               // degenerate single-char run
      "unicode äöü 世界 mixed in",  // non-ASCII code points
      (1 to 100).map(i => s"t$i").mkString(" ")
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    for ((w, m) <- Seq((16, 5), (8, 4), (2, 1))) {
      val got = texts.select($"id",
        graft.functions.CdcBoundaries.cdcBoundaries($"t", w, m).as("b"),
        graft.analysis.Dedup.cdcBoundariesDeclarative($"t", w, m).as("d"))
        .collect()
      got.foreach { r =>
        assert(r.getSeq[Int](1) === r.getSeq[Int](2),
          s"window=$w mask=$m id=${r.getLong(0)}")
      }
    }
  }

}
