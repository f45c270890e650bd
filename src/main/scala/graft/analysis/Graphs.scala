package graft.analysis

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.SizeGate

/** Graph analytics over co-occurrence structure (documents co-clicked in a
  * session, products co-bought in an order). Complements
  * [[Dedup.connectedComponents]]: components answer "which nodes belong
  * together", PageRank answers "which nodes matter".
  */
object Graphs {

  /** Co-occurrence edges: undirected (src < dst) pairs of items sharing a
    * key, weighted by how many keys they co-occur under.
    *
    * The self-join is quadratic PER KEY, so hub keys (a crawler session
    * clicking 10k docs) are dropped via `maxPerKey` BEFORE the join — the
    * standard guard that keeps co-occurrence mining linear-ish at 100 TB;
    * hubs carry no signal anyway (their co-clicks are noise, not affinity).
    * The key-size filter is an aggregate + semi-joinable frame, never a
    * window over raw rows. */
  def cooccurrenceEdges(
      df: DataFrame,
      keyCol: String,
      itemCol: String,
      maxPerKey: Int = 100): DataFrame = {
    // One grouped collect_set gathers each key's distinct items (set
    // semantics dedup repeat clicks in the same pass), the size filter
    // drops hubs, and the C(k,2) pair expansion is two chained generators
    // over the SORTED array — posexplode picks src, slice yields only the
    // items after it, so src < dst by construction. Two shuffles total
    // (key agg, edge agg) versus the previous distinct + key-count +
    // semi-join + self-join chain's four, and no duplicated subplan: the
    // old self-join evaluated the bounded frame twice per side. Hub keys
    // do materialize their item set in the aggregation buffer before the
    // filter (bounded by the key's distinct-item count, ~80KB per 10k-item
    // crawler session) — acceptable because the buffer is per-key
    // transient, while the join it replaces shuffled every hub row. */
    val sessions = df
      .select(col(keyCol).as("__k"), col(itemCol).as("__i"))
      .filter(col("__i").isNotNull)
      .groupBy("__k")
      .agg(sort_array(collect_set(col("__i"))).as("__items"))
      .filter(size(col("__items")).between(2, maxPerKey))
    sessions
      .select(posexplode(col("__items")).as(Seq("__pos", "src")), col("__items"))
      .select(col("src"),
        explode(slice(col("__items"), col("__pos") + lit(2),
          size(col("__items")))).as("dst"))
      .groupBy("src", "dst")
      .agg(count(lit(1)).as("weight"))
  }

  /** PageRank by power iteration over an undirected edge list (edges are
    * symmetrized internally). Unweighted by default — every distinct edge
    * carries r/deg; pass `weightCol` and each edge carries
    * r·w/strength(u) instead (strength = sum of u's edge weights), so a
    * pair co-clicked in 50 sessions pulls 50× the rank of a one-off
    * co-click. Ranks are scaled by N so the mean is 1.0 and small
    * scores stay comparable across corpus sizes.
    *
    * Scale shape: each iteration is one equi-join edges⋈ranks plus one sum
    * aggregate — both shuffle on node id only. Unlike
    * [[Dedup.connectedComponents]] there is NO action inside the loop, so
    * for the usual handful of iterations the whole chain stays lazy (one
    * job, Catalyst sees the full 5-deep plan) — measured 4-5× faster than
    * eager per-round checkpoints. `checkpointInterval` still cuts lineage
    * every k rounds so large iteration counts can't blow up planning.
    * The node set derives from the edge list, so there are no dangling
    * nodes and no lost mass.
    *
    * The edge/node frames stay persisted (the lazy result still reads them
    * at action time, so unpersisting here would defeat the cache); release
    * with `spark.catalog.clearCache()` once the result is materialized —
    * the same caller-managed contract as the Dedup sketch pipelines.
    *
    * Output: id, pagerank (double, mean 1.0). */
  def pageRank(
      edges: DataFrame,
      damping: Double = 0.85,
      iterations: Int = 5,
      srcCol: String = "src",
      dstCol: String = "dst",
      checkpointInterval: Int = 10,
      weightCol: Option[String] = None): DataFrame = {
    val w = weightCol.map(c => col(c).cast("double")).getOrElse(lit(1.0))
    val sym = edges.select(col(srcCol).as("u"), col(dstCol).as("v"), w.as("w"))
      .union(edges.select(col(dstCol).as("u"), col(srcCol).as("v"), w.as("w")))
      .persist()
    // strength = out-weight mass; reduces to the degree when unweighted
    // (count, not sum(1.0), so the unweighted plan is unchanged)
    val deg = weightCol match {
      case Some(_) => sym.groupBy("u").agg(sum(col("w")).as("deg"))
      case None => sym.groupBy("u").agg(count(lit(1)).as("deg"))
    }
    val nodes = sym.select(col("u").as("id")).distinct().persist()
    val n = nodes.count()
    val contrib = weightCol match {
      case Some(_) => col("r") * col("w") / col("deg")
      case None => col("r") / col("deg")
    }
    var ranks = nodes.withColumn("r", lit(1.0 / n))
    for (i <- 1 to iterations) {
      val contribs = sym
        .join(ranks, col("u") === col("id"))
        .join(deg, "u")
        .select(col("v"), contrib.as("c"))
        .groupBy("v").agg(sum("c").as("inflow"))
      ranks = nodes
        .join(contribs, col("id") === col("v"), "left")
        .select(col("id"),
          (lit((1 - damping) / n) +
            lit(damping) * coalesce(col("inflow"), lit(0.0))).as("r"))
      if (checkpointInterval > 0 && i % checkpointInterval == 0 && i < iterations)
        ranks = ranks.localCheckpoint(true)
    }
    ranks.select(col("id"), (col("r") * n).as("pagerank"))
  }

  /** HITS hubs & authorities by power iteration over a DIRECTED edge list —
    * on the bipartite session→document click graph, hub score measures "this
    * session clicks documents that matter" and authority "this document is
    * clicked by sessions that matter", the mutually-recursive complement of
    * [[pageRank]]'s single-score random walk (Kleinberg 1999).
    *
    * Each iteration: a ← L1-normalize(Eᵀh), h ← L1-normalize(Ea). L1 (not
    * the textbook L2) keeps the chain sqrt-free — scores are scale-invariant
    * under either norm, and a sum normalizer is ONE extra aggregate whose
    * 1-row result rides as a broadcast-nested-loop crossJoin (the codebook
    * pattern).
    *
    * UNLIKE [[pageRank]], each half-step is eagerly localCheckpoint'ed: the
    * normalizer references its input TWICE (values + total), and Catalyst
    * plans are trees, not DAGs — left lazy, every iteration would QUADRUPLE
    * the logical plan (4^k copies of the base scan by iteration k; measured
    * as an analyzer hang at k=5). Checkpointing the raw inflow makes the
    * double reference land on a leaf, so each iteration's plan is constant-
    * size. Checkpointing only ONCE per full iteration was measured and
    * REJECTED (round 10, matched idle A/B at sf0.1, 5 reps): 8.61 s vs
    * 7.26 s — the un-checkpointed authority half re-executes its join+agg
    * for the normalizer's second reference, which costs more than the 5
    * saved node-sized materializations (PLANS.md round-10 adjudication).
    * The checkpointed frames are node-sized and distributed — at cluster
    * scale each iteration is a couple of shuffle jobs regardless.
    *
    * Scale shape: per iteration two equi-joins edges⋈scores + two sum
    * aggregates + two scalar normalizers, all shuffling on node id only; no
    * O(n²) anywhere. Hub sessions should be capped upstream (maxPerKey) —
    * same contract as [[cooccurrenceEdges]].
    *
    * That is the shape of [[hitsLoop]]. A persisted edge list that fits
    * one task ([[graft.core.SizeGate]]) runs the whole power iteration as
    * ONE task instead ([[hitsSingleTask]]), not 2·iterations checkpoint
    * jobs of fixed latency. Its per-node sums accumulate in a different
    * order than the distributed aggregate: ulp-level drift, which the
    * micro-unit gate's pinned margins absorb (PagerankMarginSpec).
    *
    * Outputs are scaled so each side's MEAN is 1.0 (the [[pageRank]]
    * convention): side ('hub'|'authority'), id, score. */
  def hits(
      edges: DataFrame,
      iterations: Int = 5,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    // materialized once: the gate measures it, either strategy reuses it
    val e = SizeGate.materialized(edges.select(col(srcCol).cast("string").as("u"),
      col(dstCol).cast("string").as("v")).distinct())
    if (SizeGate.fits(e)) {
      val out = hitsSingleTask(e, iterations).localCheckpoint(true)
      e.unpersist()
      return out
    }
    hitsLoop(e, iterations)
  }

  /** [[hits]]' above-gate strategy: the distributed per-half-step loop
    * (two equi-joins + two sum aggregates + two scalar normalizers per
    * iteration, each half eagerly checkpointed — see [[hits]] scaladoc). */
  private[graft] def hitsLoop(e: DataFrame, iterations: Int): DataFrame = {
    val hubs = e.select(col("u").as("id")).distinct().persist()
    val auths = e.select(col("v").as("id")).distinct().persist()
    val nHub = hubs.count()
    val nAuth = auths.count()
    def normalized(scores: DataFrame): DataFrame =
      scores.crossJoin(scores.agg(sum("s").as("tot_")))
        .select(col("id"), (col("s") / col("tot_")).as("s"))
    // renamed join keys, never DataFrame-qualified refs: iteration k's
    // frame carries iteration k-1's whole lineage, and qualified refs
    // into that lineage would trip AMBIGUOUS_SELF_JOIN
    def step(scores: DataFrame, fromKey: String, toKey: String,
        nodeSet: DataFrame): DataFrame = {
      val inflow = e
        .join(scores.withColumnRenamed("id", "nid_"), col(fromKey) === col("nid_"))
        .groupBy(toKey).agg(sum("s").as("inflow"))
        .withColumnRenamed(toKey, "gid_")
      // eager checkpoint BEFORE the double-referencing normalizer (scaladoc)
      val raw = nodeSet.join(inflow, col("id") === col("gid_"), "left")
        .select(col("id"), coalesce(col("inflow"), lit(0.0)).as("s"))
        .localCheckpoint(true)
      normalized(raw)
    }
    var h = hubs.withColumn("s", lit(1.0 / nHub))
    var a = auths.withColumn("s", lit(1.0 / nAuth))
    for (_ <- 1 to iterations) {
      a = step(h, "u", "v", auths)
      h = step(a, "v", "u", hubs)
    }
    h.select(lit("hub").as("side"), col("id"), (col("s") * nHub).as("score"))
      .unionByName(a.select(lit("authority").as("side"), col("id"),
        (col("s") * nAuth).as("score")))
  }

  /** [[hits]]' below-gate strategy: the whole power iteration in one
    * executor task over the buffered (measured-small) edge list — same
    * half-step/normalizer/mean-1-scaling chain as the distributed loop,
    * same outputs up to floating-point sum order (GraphsSpec pins the
    * equivalence; the micro-unit gate's margins absorb the ulp drift). */
  private[graft] def hitsSingleTask(e: DataFrame, iterations: Int): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    e.select(col("u"), col("v")).as[(String, String)]
      .coalesce(1)
      .mapPartitions { it =>
        val edges = it.toArray
        if (edges.isEmpty) Iterator.empty
        else {
          val hubIds = edges.map(_._1).distinct
          val authIds = edges.map(_._2).distinct
          val nHub = hubIds.length
          val nAuth = authIds.length
          val h = scala.collection.mutable.HashMap(
            hubIds.map(_ -> 1.0 / nHub).toSeq: _*)
          val a = scala.collection.mutable.HashMap(
            authIds.map(_ -> 1.0 / nAuth).toSeq: _*)
          for (_ <- 1 to iterations) {
            authIds.foreach(v => a(v) = 0.0)
            edges.foreach { case (u, v) => a(v) += h(u) } // a ← Eᵀh
            val ta = authIds.iterator.map(a).sum
            authIds.foreach(v => a(v) = a(v) / ta)        // L1 normalize
            hubIds.foreach(u => h(u) = 0.0)
            edges.foreach { case (u, v) => h(u) += a(v) } // h ← Ea
            val th = hubIds.iterator.map(h).sum
            hubIds.foreach(u => h(u) = h(u) / th)
          }
          hubIds.iterator.map(u => ("hub", u, h(u) * nHub)) ++
            authIds.iterator.map(v => ("authority", v, a(v) * nAuth))
        }
      }
      .toDF("side", "id", "score")
  }

  /** Per-node triangle counts over an undirected edge list — the local
    * clustering signal (a doc whose neighbors also co-click each other is a
    * topical hub, not a drive-by).
    *
    * Scale shape: DEGREE-ORDERED ORIENTATION (compact-forward). Each edge
    * is directed from its lower (degree, id) endpoint to the higher, and
    * wedges are generated only between OUT-neighbors, so every triangle is
    * produced exactly once at its smallest corner and — the point — wedge
    * fan-out is bounded by oriented out-degree, which is O(√m) for any
    * graph. A naive neighbor-pair join fans out quadratically at hub nodes
    * (a 10⁵-degree hub alone yields 5·10⁹ wedges); orientation caps the
    * hub's out-degree at √m regardless. The closing-edge join consumes the
    * wedge stream shuffled on the (v, w) pair.
    *
    * Output: id, n_triangles (0 for triangle-free nodes). */
  def triangleCounts(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    // persist: `edges` may itself be an expensive join (co-click generation)
    // and sym feeds the degree aggregate, the orientation join AND the final
    // node frame — unpersisted, the upstream plan re-executes for each
    val sym = und.union(und.select(col("b").as("a"), col("a").as("b"))).persist()
    val deg = sym.groupBy(col("a").as("n")).agg(count(lit(1)).as("d"))
    val oriented = sym
      .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
      .filter(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")))
      .select(col("a").as("u"), col("b").as("v"))
      .persist()
    // out-neighbor pairs of u; the closing edge exists in `oriented` in
    // exactly one direction, so each triangle closes exactly once
    val tri = oriented.as("x")
      .join(oriented.as("y"), col("x.u") === col("y.u") && col("x.v") =!= col("y.v"))
      .select(col("x.u").as("u"), col("x.v").as("v"), col("y.v").as("w"))
      .join(oriented.select(col("u").as("v"), col("v").as("w")), Seq("v", "w"))
    val perNode = tri
      .select(explode(array(col("u"), col("v"), col("w"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_triangles"))
    val result = sym.select(col("a").as("id")).distinct()
      .join(perNode, Seq("id"), "left")
      .na.fill(0L, Seq("n_triangles"))
    try result.localCheckpoint(true)
    finally { oriented.unpersist(); sym.unpersist(); () }
  }

  /** Bounded-hop multi-source BFS: minimum hop distance from every reachable
    * node to each landmark node, up to `maxHops`. The landmark set is how
    * shortest paths stay tractable at scale — all-pairs distances are
    * quadratic in nodes, but distance-to-k-landmarks is k columns of
    * per-node state and is what sketches like Das Sarma et al. (WSDM 2010)
    * build on.
    *
    * Scale shape: layered frontier expansion — each hop is one equi-join of
    * the previous layer against the symmetrized edge list (shuffle on node
    * id) plus a per-layer distinct that bounds the layer by
    * nodes × landmarks, so path-count explosion never materializes; one
    * final min-aggregate merges the layers. Like [[pageRank]], the chain
    * stays LAZY across the bounded hop count (no per-round action);
    * `localCheckpoint` cuts lineage every `checkpointInterval` rounds for
    * large bounds.
    *
    * Output: id, landmark, dist (0 for the landmarks themselves). */
  def shortestPaths(
      edges: DataFrame,
      landmarks: Seq[Any],
      maxHops: Int = 4,
      srcCol: String = "src",
      dstCol: String = "dst",
      checkpointInterval: Int = 10): DataFrame = {
    require(landmarks.nonEmpty, "shortestPaths needs at least one landmark")
    val sym = edges
      .select(col(srcCol).as("u"), col(dstCol).as("v"))
      .union(edges.select(col(dstCol).as("u"), col(srcCol).as("v")))
      .distinct()
      .persist()
    val seeds = landmarks.map(l => lit(l))
    // LAYERED relaxation: layer_h holds nodes reached at hop h (deduped,
    // but NOT anti-joined against earlier layers — that would re-reference
    // the accumulated frame). Each layer references only its predecessor
    // ONCE, so the lazy plan stays LINEAR in maxHops; the naive
    // dist = f(dist, dist) recurrence doubles the subplan every hop
    // (2^hops copies — measured 5.7s vs this form at sf0.1, PLANS.md q86).
    // Revisited nodes reappear in later layers with larger d; the single
    // final min-aggregate collapses them, and per-layer distinct() bounds
    // every layer by nodes × landmarks.
    var layer = sym.select(col("u").as("id")).distinct()
      .filter(col("id").isin(seeds: _*))
      .select(col("id"), col("id").as("landmark"), lit(0).as("dist"))
    val layers = Seq.newBuilder[DataFrame]
    layers += layer
    for (h <- 1 to maxHops) {
      layer = layer
        .join(sym, col("id") === col("u"))
        .select(col("v").as("id"), col("landmark"), lit(h).as("dist"))
        .distinct()
      if (checkpointInterval > 0 && h % checkpointInterval == 0 && h < maxHops)
        layer = layer.localCheckpoint(true)
      layers += layer
    }
    layers.result().reduce(_ union _)
      .groupBy("id", "landmark")
      .agg(min("dist").as("dist"))
  }

  /** Landmark-approximated harmonic centrality: Σ_{l ∈ landmarks} 1/d(v,l)
    * over the bounded-hop distances of [[shortestPaths]] — the standard
    * sampling approximation (exact harmonic centrality needs all-pairs
    * distances, quadratic in nodes; k landmarks give an unbiased k/n-scaled
    * estimate). Nodes that reach no landmark within the bound simply don't
    * appear (centrality 0 by convention). Contributions are DECIMAL-summed.
    * Output: id, n_landmarks_reached, harmonic (round 6). */
  def harmonicCentrality(
      edges: DataFrame,
      landmarks: Seq[Any],
      maxHops: Int = 4,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 12)
    shortestPaths(edges, landmarks, maxHops, srcCol, dstCol)
      .filter(col("dist") > 0) // a landmark's own row contributes nothing
      .groupBy("id")
      .agg(count(lit(1)).as("n_landmarks_reached"),
        round(sum((lit(1.0) / col("dist").cast("double")).cast(dec))
          .cast("double"), 6).as("harmonic"))
  }

  /** Adamic–Adar link prediction scores: for every 2-hop pair (u, v), the
    * sum of 1/ln(deg(w)) over their common neighbors w — the classic
    * "which edges are missing" feature; rare shared neighbors are strong
    * evidence, hubs are discounted toward zero.
    *
    * Scale shape: wedges are generated by a self-join on the CENTER node,
    * so fan-out is deg(w)² per center — quadratic in degree, which is why
    * the input edge list must be hub-guarded upstream
    * ([[cooccurrenceEdges]]' maxPerKey does exactly that; for raw graphs
    * cap center degree first). Contributions are DECIMAL-summed so scores
    * are shuffle-order-stable. Existing edges are NOT excluded — callers
    * doing link prediction anti-join them out; keeping them makes the
    * score also useful as an edge-strength feature.
    * Output: u, v (u < v), common_neighbors, aa_score (round 6). */
  def adamicAdar(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 12)
    val sym = edges
      .select(col(srcCol).as("w"), col(dstCol).as("n"))
      .union(edges.select(col(dstCol).as("w"), col(srcCol).as("n")))
      .distinct()
      .persist()
    val deg = sym.groupBy("w").agg(count(lit(1)).as("deg"))
    // deg-1 nodes can never be wedge centers (a wedge needs two neighbors),
    // but the projection still evaluates for them — guard the 1/ln(1)
    // infinity before the ANSI decimal cast can throw on it
    val weighted = sym.join(deg, "w")
      .withColumn("contrib",
        when(col("deg") >= 2,
          (lit(1.0) / log(col("deg").cast("double"))).cast(dec)))
    val result = weighted.as("a")
      .join(weighted.select(col("w"), col("n").as("n2"), col("contrib").as("c2")).as("b"),
        col("a.w") === col("b.w") && col("a.n") < col("b.n2"))
      .groupBy(col("a.n").as("u"), col("b.n2").as("v"))
      .agg(count(lit(1)).as("common_neighbors"),
        round(sum(col("a.contrib")).cast("double"), 6).as("aa_score"))
    try result.localCheckpoint(true)
    finally { sym.unpersist(); () }
  }

  /** Pointwise mutual information of co-occurring item pairs:
    * pmi = ln(n_keys · c_uv / (c_u · c_v)) where c_uv counts keys containing
    * both items and c_u keys containing u — the collocation measure that
    * separates "co-occur because both are popular" from "co-occur because
    * they belong together". Positive = above-chance association.
    *
    * Scale shape: reuses the co-occurrence edge aggregate for c_uv and the
    * per-item key counts for c_u — two grouped aggregates and one join of
    * the (already-reduced) edge list against two broadcast-sized count
    * frames. Output: u, v, c_uv, pmi (round 6). */
  def pmiPairs(
      df: DataFrame,
      keyCol: String,
      itemCol: String,
      maxPerKey: Int = 100,
      minPairCount: Long = 2): DataFrame = {
    val edges = cooccurrenceEdges(df, keyCol, itemCol, maxPerKey)
      .filter(col("weight") >= minPairCount)
    val itemKeys = df
      .select(col(keyCol).as("__k"), col(itemCol).as("item"))
      .filter(col("item").isNotNull)
      .distinct()
    val nKeys = itemKeys.select("__k").distinct().count()
    val itemCounts = itemKeys.groupBy("item").agg(count(lit(1)).as("ci"))
    edges
      .join(itemCounts.select(col("item").as("src"), col("ci").as("cu")), "src")
      .join(itemCounts.select(col("item").as("dst"), col("ci").as("cv")), "dst")
      .select(col("src").as("u"), col("dst").as("v"), col("weight").as("c_uv"),
        round(log(lit(nKeys.toDouble) * col("weight").cast("double") /
          (col("cu").cast("double") * col("cv").cast("double"))), 6).as("pmi"))
  }

  /** Item-item co-visitation recommendations: for every item, the top-k
    * most co-occurring neighbors — the classic "people who viewed X also
    * viewed" list, straight off the co-occurrence edges.
    *
    * Scale shape: one window over the symmetrized edge list, partitioned by
    * the source item — ranking work is per-item and bounded by item degree
    * (already hub-guarded upstream by `cooccurrenceEdges`' maxPerKey).
    * Deterministic tie-break (weight desc, neighbor asc) keeps the list
    * stable across runs and engines.
    * Output: item, rec, weight, rank (1..k). */
  /** Synchronous label propagation (community detection): every node starts
    * as its own community, and each round adopts the most frequent label
    * among its neighbors — deterministic via the (count desc, label asc)
    * tie-break, which is what makes the whole loop oracle-checkable where
    * async/randomized LPA is not. `rounds` is a small constant: LPA
    * converges in a few sweeps on co-occurrence graphs, and a fixed unroll
    * is replayable in SQL (same policy as [[pageRank]]).
    *
    * Scale shape per round: one equi-join of the symmetric edge list with
    * the label frame (shuffle on node id; the payload is 〈node, label〉
    * only — never adjacency), one grouped count, one argmax aggregate.
    * The 3-round chain stays fully lazy — no mid-loop action, so Catalyst
    * sees the whole plan and each round references its predecessor once
    * (plan growth linear, the q86 lesson).
    * Output: id, community (the propagated label). */
  def labelPropagation(edges: DataFrame, rounds: Int = 3): DataFrame = {
    val sym = edges.select(col("src").as("u"), col("dst").as("v"))
      .union(edges.select(col("dst").as("u"), col("src").as("v")))
    var labels = sym.select(col("u").as("id")).distinct()
      .withColumn("label", col("id"))
    for (_ <- 1 to rounds) {
      labels = sym
        .join(labels.withColumnRenamed("id", "v"), "v")
        .groupBy(col("u").as("id"), col("label"))
        .agg(count(lit(1)).as("c"))
        // lexicographic struct min = (count desc, label asc) argmax
        .groupBy("id")
        .agg(min(struct((-col("c")).as("nc"), col("label"))).as("best"))
        .select(col("id"), col("best.label").as("label"))
    }
    labels.select(col("id"), col("label").as("community"))
  }

  def covisitationRecs(
      edges: DataFrame,
      k: Int = 3,
      srcCol: String = "src",
      dstCol: String = "dst",
      weightCol: String = "weight"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sym = edges
      .select(col(srcCol).as("item"), col(dstCol).as("rec"), col(weightCol).as("weight"))
      .union(edges.select(col(dstCol).as("item"), col(srcCol).as("rec"), col(weightCol).as("weight")))
    val w = Window.partitionBy("item").orderBy(col("weight").desc, col("rec").asc)
    sym
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Bounded-round Bellman–Ford from a landmark — weighted shortest paths,
    * the weighted sibling of [[shortestPaths]]' BFS (hop counts ignore how
    * STRONG a co-click tie is; here edge length is caller-supplied, e.g.
    * 1/weight, so well-trodden paths are short). `rounds` bounds the
    * relaxation: the result is exact for shortest paths of ≤ `rounds`
    * edges — the Bellman–Ford invariant — and a fixpoint when the graph's
    * weighted diameter is smaller.
    *
    * Scale shape: each round is one equi-join on the frontier node +
    * one min-aggregate — shuffles carry 〈node, double〉 only. The dist
    * frame is referenced twice per round (relax + carry), so each round
    * localCheckpoints (the q86/q49 lineage rule). Engine parity: each
    * candidate distance is a fixed chain of double adds replayed
    * identically, and min() over identical sets is identical.
    * Output: id, dist (round 6) — nodes reachable within `rounds` edges. */
  def weightedShortestPaths(
      edges: DataFrame,
      landmark: Any,
      rounds: Int = 4,
      srcCol: String = "src",
      dstCol: String = "dst",
      distCol: String = "dist"): DataFrame = {
    require(rounds >= 1, s"need rounds >= 1, got $rounds")
    val sym = edges
      .select(col(srcCol).as("u"), col(dstCol).as("v"), col(distCol).cast("double").as("dd"))
      .union(edges
        .select(col(dstCol).as("u"), col(srcCol).as("v"), col(distCol).cast("double").as("dd")))
      .localCheckpoint(eager = true)
    var dist = sym.select(col("u").as("id")).distinct()
      .filter(col("id") === lit(landmark))
      .withColumn("d", lit(0.0))
    for (_ <- 1 to rounds) {
      val relaxed = dist
        .join(sym, col("id") === col("u"))
        .select(col("v").as("id"), (col("d") + col("dd")).as("d"))
      dist = dist.unionByName(relaxed)
        .groupBy("id").agg(min("d").as("d"))
        .localCheckpoint(eager = true)
    }
    dist.select(col("id"), round(col("d"), 6).as("dist"))
  }

  /** k-core decomposition by simultaneous peeling (Seidman's cores; the
    * distributed analogue of Batagelj–Zaveršnik): each round deletes EVERY
    * node whose current degree is below k, then recomputes degrees on the
    * surviving subgraph; the fixpoint is the k-core — the standard
    * "dense enough to matter" filter before community/centrality passes.
    *
    * `rounds` bounds the peel so the output is deterministic and SQL-
    * unrollable (the q108 Lloyd rule): the result is the survivors after
    * exactly `rounds` simultaneous peels, which IS the k-core whenever the
    * graph converges earlier (peeling is monotone — once stable, further
    * rounds are identity; the spec asserts convergence on its fixture).
    *
    * Scale shape: per round, one grouped count (degree) + two semi-joins
    * (edge survives iff both endpoints do) — all hash-shuffles on node id,
    * never materializing anything node-count-sized on the driver. The live
    * edge set is localCheckpoint'd each round: every round references it
    * twice (degree + filter), so an unbroken lineage would double the plan
    * per round (the q86 duplication trap). Peel cost shrinks with the
    * graph; rounds needed in practice is small (degeneracy ordering depth,
    * not diameter).
    * Output: id, core_degree (degree within the surviving subgraph). */
  def kCore(edges: DataFrame, k: Int = 2, rounds: Int = 4): DataFrame = {
    require(k >= 1 && rounds >= 1, s"need k/rounds >= 1, got $k/$rounds")
    val sym = edges.select(col("src").as("u"), col("dst").as("v"))
      .union(edges.select(col("dst").as("u"), col("src").as("v")))
    var live = sym.localCheckpoint(eager = true)
    for (_ <- 1 to rounds) {
      val keep = live.groupBy("u").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select("u")
      live = live
        .join(keep, Seq("u"), "leftsemi")
        .join(keep.withColumnRenamed("u", "v"), Seq("v"), "leftsemi")
        .select("u", "v")
        .localCheckpoint(eager = true)
    }
    live.groupBy(col("u").as("id")).agg(count(lit(1)).as("core_degree"))
  }
}
