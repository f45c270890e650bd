package graft

import graft.analysis.Graphs

class GraphsSpec extends SparkSpec {
  import spark.implicits._

  test("cooccurrence edges: pair counts, hub keys dropped before the join") {
    val clicks = (Seq(
      ("s1", 1), ("s1", 2), ("s1", 3),
      ("s2", 1), ("s2", 2),
      ("s2", 2) // duplicate click must not inflate the weight
    ) ++ (1 to 50).map(i => ("hub", i))).toDF("sid", "doc")
    val edges = Graphs.cooccurrenceEdges(clicks, "sid", "doc", maxPerKey = 10)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(edges === Map((1, 2) -> 2L, (1, 3) -> 1L, (2, 3) -> 1L))
  }

  test("pagerank: one iteration on a path graph matches the hand calculation") {
    // 1 - 2 - 3: deg(1)=deg(3)=1, deg(2)=2, N=3, r0=1/3 each
    // r1(1) = 0.05 + 0.85*(r0(2)/2)       = 0.05 + 0.85/6
    // r1(2) = 0.05 + 0.85*(r0(1)+r0(3))   = 0.05 + 0.85*2/3
    val edges = Seq((1, 2), (2, 3)).toDF("src", "dst")
    val out = Graphs.pageRank(edges, damping = 0.85, iterations = 1)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val n = 3.0
    assert(math.abs(out(1) - (0.05 + 0.85 / 6) * n) < 1e-12)
    assert(math.abs(out(2) - (0.05 + 0.85 * 2 / 3) * n) < 1e-12)
    assert(math.abs(out(1) - out(3)) < 1e-15) // symmetry
  }

  test("hits: 5 iterations on the 2x2 bipartite fixture hit the Fibonacci closed form") {
    // edges s1->{d1,d2}, s2->{d1}. L1-normalized HITS on this graph walks
    // the Fibonacci ladder: after k full iterations
    //   a_k = (F(2k+1)/F(2k+2), F(2k-1)... ) — concretely at k=5:
    //   a5 = (89/144, 55/144), h5 = (144/233, 89/233)
    // (derive by hand: each raw update gives d1 = 1 (both hubs sum to 1),
    // d2 = top hub's score; normalize; mirror for hubs.)
    val edges = Seq(("s1", "d1"), ("s1", "d2"), ("s2", "d1")).toDF("src", "dst")
    val out = Graphs.hits(edges, iterations = 5)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(math.abs(out(("hub", "s1")) - 2.0 * 144 / 233) < 1e-12)
    assert(math.abs(out(("hub", "s2")) - 2.0 * 89 / 233) < 1e-12)
    assert(math.abs(out(("authority", "d1")) - 2.0 * 89 / 144) < 1e-12)
    assert(math.abs(out(("authority", "d2")) - 2.0 * 55 / 144) < 1e-12)
    // mean-1 scaling: each side's scores sum to its node count
    assert(math.abs(out(("hub", "s1")) + out(("hub", "s2")) - 2.0) < 1e-12)
    assert(math.abs(out(("authority", "d1")) + out(("authority", "d2")) - 2.0) < 1e-12)
  }

  test("hits: duplicate edges collapse; disconnected components both carry mass") {
    // duplicate (s1,d1) must not double d1's inflow; (s9,d9) is detached
    val edges = Seq(("s1", "d1"), ("s1", "d1"), ("s1", "d2"), ("s9", "d9"))
      .toDF("src", "dst")
    val out = Graphs.hits(edges, iterations = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    // s1 and s9 are both pure hubs; d9's authority mass comes only from s9
    assert(out(("authority", "d9")) > 0.0)
    // within s1's star, d1 and d2 are symmetric once the dup collapses
    assert(math.abs(out(("authority", "d1")) - out(("authority", "d2"))) < 1e-15)
  }

  test("hits: single-task strategy equals the distributed loop within fp sum-order drift") {
    // richer fixture: shared authorities, a chain, a detached component
    val edges = Seq(
      ("s1", "d1"), ("s1", "d2"), ("s2", "d1"), ("s2", "d3"),
      ("s3", "d3"), ("s3", "d4"), ("s9", "d9")).toDF("src", "dst")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    // the single task returns its checkpoint; the loop unions its two sides
    def loopRan(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.exists(_.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.Union])
    val fastDf = Graphs.hits(edges, iterations = 5) // under the SizeGate budget
    val loopDf = withGateBudget("1")(Graphs.hits(edges, iterations = 5))
    assert(!loopRan(fastDf) && loopRan(loopDf))
    val fast = asMap(fastDf)
    val loop = asMap(loopDf)
    assert(fast.keySet === loop.keySet)
    fast.foreach { case (k, v) =>
      assert(math.abs(v - loop(k)) < 1e-9, s"$k: fast $v vs loop ${loop(k)}")
    }
  }

  test("pagerank: mass conserves (mean stays 1) and hubs outrank leaves") {
    // star: center 0 linked to 1..4, plus a detached pair 5-6
    val edges = ((1 to 4).map(i => (0, i)) :+ ((5, 6))).toDF("src", "dst")
    val out = Graphs.pageRank(edges, iterations = 5)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(math.abs(out.values.sum - 7.0) < 1e-9) // scaled ranks sum to N
    assert(out(0) > out(1)) // star center dominates its leaves
    assert(math.abs(out(5) - out(6)) < 1e-15)
  }

  test("triangles: clique counts, paths are triangle-free, duplicate/reversed edges collapse") {
    // 4-clique on 1..4 (each node sits in C(3,2)=3 triangles), a dangling
    // path 4-5-6 (no triangles for 5,6), one duplicate and one reversed
    // edge that must not double-count
    val edges = (Seq(
      (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
      (4, 5), (5, 6),
      (2, 1), (3, 4) // reversed + duplicate
    )).toDF("src", "dst")
    val out = Graphs.triangleCounts(edges)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(out === Map(1 -> 3L, 2 -> 3L, 3 -> 3L, 4 -> 3L, 5 -> 0L, 6 -> 0L))
  }

  test("weighted pagerank: one iteration matches the hand calculation, heavy edges pull more") {
    // 1 -(w=3)- 2 -(w=1)- 3: strength(1)=3, strength(2)=4, strength(3)=1
    val edges = Seq((1, 2, 3L), (2, 3, 1L)).toDF("src", "dst", "weight")
    val out = Graphs.pageRank(edges, damping = 0.85, iterations = 1, weightCol = Some("weight"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val n = 3.0
    assert(math.abs(out(1) - (0.05 + 0.85 * (1.0 / 3 * 3 / 4)) * n) < 1e-12)
    assert(math.abs(out(2) - (0.05 + 0.85 * (1.0 / 3 + 1.0 / 3)) * n) < 1e-12)
    assert(math.abs(out(3) - (0.05 + 0.85 * (1.0 / 3 * 1 / 4)) * n) < 1e-12)
    // the heavy-edge neighbor of 2 outranks the light one
    assert(out(1) > out(3))
  }

  test("covisitation recs: symmetric, weight-ranked, deterministic ties, k-bounded") {
    val edges = Seq(
      (1, 2, 5L), (1, 3, 5L), (1, 4, 2L), (1, 5, 1L), // node 1 has 4 neighbors
      (2, 3, 7L)
    ).toDF("src", "dst", "weight")
    val out = Graphs.covisitationRecs(edges, k = 3)
      .collect().map(r => (r.getInt(0), r.getInt(3)) -> ((r.getInt(1), r.getLong(2)))).toMap
    // ties (2 and 3 both weight 5) break on neighbor id; k=3 drops node 5
    assert(out((1, 1)) === ((2, 5L)) && out((1, 2)) === ((3, 5L)) && out((1, 3)) === ((4, 2L)))
    assert(!out.contains((1, 4)))
    // symmetry: 3 recommends 2 first (weight 7 beats 5 from node 1)
    assert(out((3, 1)) === ((2, 7L)) && out((3, 2)) === ((1, 5L)))
  }

  test("triangles: hub star plus one closing edge yields exactly one triangle") {
    // hub 0 with leaves 1..20; only (1,2) closes — orientation must not
    // enumerate the hub's C(20,2) wedge space into phantom triangles
    val edges = ((1 to 20).map(i => (0, i)) :+ ((1, 2))).toDF("src", "dst")
    val out = Graphs.triangleCounts(edges)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(out(0) === 1L && out(1) === 1L && out(2) === 1L)
    assert((3 to 20).forall(out(_) === 0L))
  }

  test("harmonic centrality: 1/d sums, landmark self-rows excluded") {
    // path 1-2-3-4; landmarks 1 and 4
    val edges = Seq((1, 2), (2, 3), (3, 4)).toDF("src", "dst")
    val out = Graphs.harmonicCentrality(edges, landmarks = Seq(1, 4), maxHops = 3)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    def r6(d: Double) = math.rint(d * 1e6) / 1e6
    assert(out(2) === ((2L, r6(1.0 + 1.0 / 2)))) // d(2,1)=1, d(2,4)=2
    assert(out(3) === ((2L, r6(0.5 + 1.0))))
    assert(out(1) === ((1L, r6(1.0 / 3)))) // only the far landmark counts
  }

  test("adamic-adar: hand-computed scores, hubs discounted") {
    // star center 0 with leaves 1..4, plus a private bridge 5 between 1 and 2:
    // (1,2) share neighbors {0 (deg 4), 5 (deg 2)} -> 1/ln4 + 1/ln2
    // (3,4) share only the hub 0 -> 1/ln4
    val edges = ((1 to 4).map(i => (0, i)) ++ Seq((1, 5), (2, 5))).toDF("src", "dst")
    val out = Graphs.adamicAdar(edges)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    def r6(d: Double) = math.rint(d * 1e6) / 1e6
    assert(out((1, 2)) === ((2L, r6(1 / math.log(4) + 1 / math.log(2)))))
    assert(out((3, 4)) === ((1L, r6(1 / math.log(4)))))
    // shared-rare-neighbor pair outscores shared-hub pair
    assert(out((1, 2))._2 > out((3, 4))._2)
  }

  test("pmi: together-only items positive, anti-correlated pairs low") {
    // items A,B always co-occur (4 sessions); C appears in 4 other sessions
    // alone with D; A-C never co-occur
    val clicks = ((1 to 4).flatMap(s => Seq((s"s$s", "A"), (s"s$s", "B"))) ++
      (5 to 8).flatMap(s => Seq((s"s$s", "C"), (s"s$s", "D")))).toDF("sid", "doc")
    val out = Graphs.pmiPairs(clicks, "sid", "doc", minPairCount = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    // pmi(A,B) = ln(8 * 4 / (4*4)) = ln 2
    assert(out(("A", "B")) === math.rint(math.log(2) * 1e6) / 1e6)
    assert(!out.contains(("A", "C"))) // no co-occurrence -> no row
  }

  test("shortest paths: hop distances, hop bound, unreachable nodes absent") {
    // path 1-2-3-4-5 plus isolated edge 8-9; landmark 1
    val edges = Seq((1, 2), (2, 3), (3, 4), (4, 5), (8, 9)).toDF("src", "dst")
    val out = Graphs.shortestPaths(edges, landmarks = Seq(1), maxHops = 3)
      .collect().map(r => r.getInt(0) -> r.getInt(2)).toMap
    assert(out === Map(1 -> 0, 2 -> 1, 3 -> 2, 4 -> 3)) // 5 beyond bound; 8,9 unreachable
    // two landmarks: min path collapses, each node carries one row per landmark
    val out2 = Graphs.shortestPaths(edges, landmarks = Seq(1, 5), maxHops = 4)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getInt(2)).toMap
    assert(out2((3, 1)) === 2 && out2((3, 5)) === 2 && out2((5, 5)) === 0)
    // a landmark absent from the graph contributes no rows
    assert(Graphs.shortestPaths(edges, landmarks = Seq(99), maxHops = 2).count() === 0)
  }

  test("label propagation: barbell graph splits into its two triangles, deterministic") {
    // triangles {1,2,3} and {4,5,6} bridged by 3-4; hand-unrolled 3 sweeps
    // with the (count desc, label asc) tie-break land on labels 1 and 3
    val edges = Seq((1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4))
      .toDF("src", "dst")
    val out = Graphs.labelPropagation(edges, rounds = 3)
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(out === Map(1 -> 1, 2 -> 1, 3 -> 1, 4 -> 3, 5 -> 3, 6 -> 3))
    val again = Graphs.labelPropagation(edges, rounds = 3)
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(again === out)
  }

  test("weighted paths: strong 2-hop route beats the weak direct edge, rounds bound the horizon") {
    // dist = 1/weight: 1-2 and 2-3 are strong (0.1 each), 1-3 weak (1.0)
    val edges = Seq((1, 2, 0.1), (2, 3, 0.1), (1, 3, 1.0)).toDF("src", "dst", "dist")
    val r4 = Graphs.weightedShortestPaths(edges, landmark = 1, rounds = 4)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(r4 === Map(1 -> 0.0, 2 -> 0.1, 3 -> 0.2))
    // one round only reaches direct edges: 3 still carries the weak path
    val r1 = Graphs.weightedShortestPaths(edges, landmark = 1, rounds = 1)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(r1 === Map(1 -> 0.0, 2 -> 0.1, 3 -> 1.0))
  }

  test("k-core: pendant chain peels away, clique survives, bounded rounds hit the fixpoint") {
    // 4-clique {1,2,3,4} + chain 4-5-6: peeling at k=3 removes 6 (deg 1),
    // then 5, then 4 keeps degree 3 inside the clique
    val edges = Seq((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6))
      .toDF("src", "dst")
    val core = Graphs.kCore(edges, k = 3, rounds = 4)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(core === Map(1 -> 3L, 2 -> 3L, 3 -> 3L, 4 -> 3L))
    // simultaneous-peel semantics: round 1 drops BOTH 5 and 6 (5's degree
    // counts 6 before the peel, but deg(5)=2 < 3 already), so 2 rounds
    // suffice; extra rounds are identity (fixpoint)
    val more = Graphs.kCore(edges, k = 3, rounds = 6)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(more === core)
    // k above the max degree empties the graph
    assert(Graphs.kCore(edges, k = 5, rounds = 3).isEmpty)
  }
}
